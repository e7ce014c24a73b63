"""Prediction sweep over a relevant-distance grid + stability scoring
(reference: ``aligner.evaluate(relevant_distances, max_predictions, ...)``,
plugin/brdrq/brdrq_algorithm_autocorrectborders.py:626-646; grid
``np.arange(0, rd*100, 10)/100`` ibid.:627-629; interactive variant
plugin/brdrq/brdrq_dockwidget_featurealigner.py:1676-1680).

Stability semantics pinned here (brdr-internal in the reference; the
observable contract is the cheatsheet's "prediction = rd where the result
stays constant across consecutive steps, score grows with the stable
span" — SURVEY.md §2.6 W1):

* the align kernel computes a theme's whole grid (intersections
  hoisted), one row per rd, and scores it before it yields anything
  (``Sweep``): no window, shuffle or join follows;
* a row is *stable* when its sym-diff-area index changed by at most
  ``eps`` vs the previous grid step;
* gaps-and-islands (cumsum of change flags) yields stable runs; a run of
  length >= ``min_stable`` is a *prediction*, represented by its first
  (cheapest) rd; ``brdr_prediction_score`` = run length;
* ``brdr_evaluation`` labels follow the reference enum
  (docs/autocorrectborders.md:209, read at brdrq_utils.py:1259-1271),
  ``equality_by_id`` included: the claimed reference id rides on the
  theme row into the kernel, which finds its geometry among the theme's
  candidates.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from brdrq_spark.functions.geo import sym_diff_area
from brdrq_spark.operators.align import (
    ALIGN_SCHEMA,
    CLAIM_COL,
    AlignConfig,
    distance_grid,
    run_kernel,
)

# PredictionStrategy (reference brdrq_algorithm_common.py:123-130)
STRATEGY_ALL = "ALL"
STRATEGY_BEST = "BEST"
STRATEGY_ORIGINAL = "ORIGINAL"

# FullReferenceStrategy (reference enum brdrq_utils.py:184-185; semantics
# cheatsheet p.2): keep-only / score-boost / ignore full-reference results
FULL_REF_ONLY = "ONLY_FULL_REFERENCE"
FULL_REF_PREFER = "PREFER_FULL_REFERENCE"
FULL_REF_NO = "NO_FULL_REFERENCE"


# O5 admission control / adaptive grid-step policy (reference constants
# brdrq_dockwidget_aligner.py:63-68: max_feature_count 5000,
# max_area_optimization 1e5 m², max_area_limit 1e6 m²,
# max_rel_dist_optimization 7.5 m; step values brdrq_settings.py:70-73:
# small 10 / mid 20 / big 50 cm; decision chain
# brdrq_dockwidget_featurealigner.py:1272-1299)
MAX_AREA_OPTIMIZATION = 100_000.0  # m² — above: coarsen to the big step
MAX_AREA_LIMIT = 1_000_000.0  # m² — above: calculation blocked
MAX_REL_DIST_OPTIMIZATION = 7.5  # m
STEP_SMALL = 0.10  # 10 cm
STEP_MID = 0.20  # 20 cm
STEP_BIG = 0.50  # 50 cm


def adaptive_grid(area: float, max_rd: float) -> tuple[float, bool]:
    """(grid step in meters, blocked) per the reference's policy chain
    (brdrq_dockwidget_featurealigner.py:1272-1299):

    * area > 1e6 m² → blocked (the reference aborts and points the user
      at the bulk tool);
    * area > 1e5 m² → big step (50 cm);
    * THEN, faithfully to the reference's if/elif ordering, the
      relevant-distance branch OVERWRITES the area branch: max_rd >
      15 m → big step, 7.5 < max_rd <= 15 → MID step — so a big-area
      feature evaluated at max_rd = 10 m gets the 20 cm step, exactly
      as the reference's chain resolves it.
    """
    if area > MAX_AREA_LIMIT:
        return STEP_SMALL, True
    step = STEP_BIG if area > MAX_AREA_OPTIMIZATION else STEP_SMALL
    if max_rd > 2 * MAX_REL_DIST_OPTIMIZATION:
        step = STEP_BIG
    elif max_rd > MAX_REL_DIST_OPTIMIZATION:
        step = STEP_MID
    return step, False


def diff_metrics_series(aligned: DataFrame) -> DataFrame:
    """G2: the per-(theme, rd) difference-metric series behind the
    FeatureAligner plot (reference
    `aligner.get_difference_metrics_for_thematic_data`,
    brdrq_dockwidget_featurealigner.py:1690-1692): one row per grid
    distance with the absolute and relative diff metrics, plus the
    step-to-step delta the stability detector consumes. Pure window
    algebra over an align-grid output — no UDF, no extra kernel pass."""
    w = Window.partitionBy("theme_id").orderBy("brdr_relevant_distance")
    return aligned.select(
        "theme_id",
        "brdr_relevant_distance",
        "brdr_area",
        "brdr_sym_diff_area",
        "brdr_sym_diff_area_index_perc",
        "brdr_diff_area_index",
        "brdr_diff_length_index",
    ).withColumn(
        "delta_sym_diff_area",
        F.col("brdr_sym_diff_area")
        - F.lag("brdr_sym_diff_area").over(w),
    )


EVALUATE_SCHEMA = T.StructType(
    ALIGN_SCHEMA.fields
    + [
        T.StructField("brdr_stability", T.BooleanType()),
        T.StructField("is_prediction", T.BooleanType()),
        T.StructField("brdr_prediction_score", T.DoubleType()),
        T.StructField("brdr_prediction_count", T.IntegerType()),
        T.StructField("brdr_evaluation", T.StringType()),
    ]
)


@dataclass
class Sweep:
    """evaluate's half of the align kernel (``align._make_kernel``):
    ``grid`` gives a theme its distance grid, ``score`` turns the
    theme's rows, in rd order, into its prediction rows, and
    ``blocked`` is the row of a theme refused by admission control.
    ``grids`` maps each ``adaptive_grid`` step (None without
    ``auto_step``) to its grid."""

    grids: dict
    max_rd: float
    eps: float
    min_stable: int
    max_predictions: int
    strategy: str
    full_reference: str
    eq_tol: float

    schema = EVALUATE_SCHEMA

    def grid(self, area: float) -> list[float] | None:
        """The theme's distance grid, or None when ``auto_step`` blocks it."""
        if None in self.grids:
            return self.grids[None]
        step, blocked = adaptive_grid(area, self.max_rd)
        return None if blocked else self.grids[step]

    def blocked(self, theme_id) -> pd.DataFrame:
        """One explicit row per blocked theme (mirrors the topology
        sentinel contract): theme_id and the blocked label, every other
        column null, so consumers can tell "refused by admission
        control" from "lost"."""
        row = dict.fromkeys(self.schema.names)
        row.update(theme_id=theme_id, brdr_evaluation="blocked_by_area")
        return pd.DataFrame([row], dtype=object)

    @staticmethod
    def claimed(pdf: pd.DataFrame) -> list[bytes]:
        """The geometries of the reference id the theme claims
        (``CLAIM_COL``), looked up by ``ref_id`` among all of the
        theme's candidate rows, before admission control caps them.

        A claimed reference that is not a candidate cannot be equal to
        an unchanged result: it lies more than 2·max_rd from the
        theme's bbox, so it is disjoint from the result, and their
        sym-diff area is the sum of both areas, which stays within
        ``eq_tol`` only for empty or near-empty geometries."""
        if CLAIM_COL not in pdf.columns:
            return []
        key = pdf[CLAIM_COL].iloc[0]
        if pd.isna(key):
            return []
        hit = (pdf["ref_id"] == key) & pdf["ref_wkb"].notna()
        return list(dict.fromkeys(bytes(w) for w in pdf["ref_wkb"][hit]))

    def score(self, rows: list[dict], theme_wkb, claimed: list[bytes]) -> pd.DataFrame:
        """Stability runs (gaps and islands over the sym-diff index),
        predictions, labels, the full-reference strategy, the rank by
        score then rd, and ORIGINAL's swap, for one theme's rows;
        ``claimed`` holds the geometries of its claimed reference id."""
        sdai = np.array([r["brdr_sym_diff_area_index"] for r in rows])
        # a run starts at rd 0 and wherever the index moves by more than
        # eps (NaN counts as a move)
        start = np.ones(len(rows), dtype=bool)
        start[1:] = ~(np.abs(np.diff(sdai)) <= self.eps)
        run = np.cumsum(start) - 1
        run_len = np.bincount(run)[run]
        first = np.flatnonzero(start & (run_len >= self.min_stable))
        count = len(first)
        preds = []
        for i in first:
            r = rows[i]
            full = r["brdr_full_actual"]
            if self.full_reference == FULL_REF_ONLY and not full:
                continue
            boost = 1.5 if self.full_reference == FULL_REF_PREFER and full else 1.0
            if r["brdr_sym_diff_area_index"] < 1e-9:
                # the input already coincided with a full-reference
                # composition (full-actual, and its area is the total of
                # the references adopted whole) and/or with the claimed
                # reference (the aligned result, before ORIGINAL's swap)
                eq_full = full and abs(r["brdr_area"] - r["brdr_ref_full_area"]) <= self.eq_tol
                eq_id = any(sym_diff_area(r["result_wkb"], w) <= self.eq_tol for w in claimed)
                if eq_id:
                    label = "equality_by_id_and_full_reference" if eq_full else "equality_by_id"
                else:
                    label = "equality_by_full_reference" if eq_full else "no_change"
            else:
                label = "prediction_unique" if count == 1 else "to_check_prediction_multi"
            preds.append(dict(
                r, brdr_stability=True, is_prediction=True,
                brdr_prediction_score=float(run_len[i]) * boost,
                brdr_prediction_count=count, brdr_evaluation=label,
            ))
        preds.sort(key=lambda p: (-p["brdr_prediction_score"], p["brdr_relevant_distance"]))
        if self.strategy == STRATEGY_BEST:
            preds = preds[:1]
        elif self.max_predictions and self.max_predictions > 0:
            preds = preds[: self.max_predictions]
        if self.strategy == STRATEGY_ORIGINAL and count > 1:
            # several competing predictions -> keep the SOURCE geometry
            # (reference brdrq_algorithm_common.py:123-130: "the ORIGINAL
            # if there are multiple predictions")
            for p in preds:
                p["result_wkb"] = theme_wkb
        return pd.DataFrame(preds, columns=self.schema.names)


def evaluate(
    spark: SparkSession,
    theme_df: DataFrame,
    ref_df: DataFrame,
    max_rd: float = 5.0,
    step: float = 0.1,
    config: AlignConfig | None = None,
    max_predictions: int = -1,
    prediction_strategy: str = STRATEGY_ALL,
    full_reference_strategy: str = FULL_REF_NO,
    eps: float = 1e-3,
    min_stable: int = 2,
    broadcast_ref: bool | None = None,
    ref_key_col: str | None = None,
    eq_tol: float = 1e-6,
    auto_step: bool = False,
) -> DataFrame:
    """Full prediction sweep: align over the grid, score stability, keep
    predictions per strategy (ALL / BEST / ORIGINAL) and max_predictions
    (reference: max_predictions=4 interactive, -1 bulk —
    brdrq_dockwidget_featurealigner.py:1677, brdrq_dockwidget_bulkaligner.py:236).
    ``config``'s relevant_distances are replaced by the grid; the
    caller's object is not changed.

    Equality labels (reference enum docs/autocorrectborders.md:209, read
    on every correction pass at brdrq_utils.py:1266-1271) refine the
    no_change evaluation — they fire only when the alignment left the
    input unchanged (sym-diff index ~ 0):

    * ``equality_by_id``: ``ref_key_col`` names a theme column carrying
      the claimed reference id; the label fires when the aligned result
      equals a reference feature with that id among the theme's
      candidates (sym-diff area <= ``eq_tol`` m²; see ``Sweep.claimed``);
    * ``equality_by_full_reference``: the result is full-actual AND its
      area equals the total area of the references adopted whole
      (|brdr_area - brdr_ref_full_area| <= ``eq_tol``) — i.e. the input
      already coincided with a full-reference composition;
    * both -> ``equality_by_id_and_full_reference``.

    ``auto_step=True`` applies the reference's O5 admission control
    (``adaptive_grid``) per feature, from the area the kernel decodes
    anyway: a theme above 1e6 m² is not swept but still appears in the
    output as one explicit row with ``brdr_evaluation =
    'blocked_by_area'`` (the reference blocks it loudly and points at
    the bulk path — silent disappearance would break any consumer
    joining results back to the input), and every other theme sweeps
    the grid of its own step, so a small theme co-swept with a big one
    keeps the 10 cm step the reference would give it.

    Execution: ``align``'s plan (``align.run_kernel``) with the scoring
    inside the kernel (``Sweep``), so a theme's sweep never leaves its
    task and a one-theme request runs one job, with or without
    ``ref_key_col``. The claimed id rides on the theme row
    (``CLAIM_COL``), the candidate rows carry their ``ref_id``s, and
    the kernel compares the aligned result with the claimed candidate's
    geometry (``functions.geo.sym_diff_area``).
    """
    grid = distance_grid(max_rd, adaptive_grid(0.0, max_rd)[0] if auto_step else step)
    cfg = replace(config or AlignConfig(), relevant_distances=grid)
    grids = {None: grid}
    if auto_step:
        # the rd branch overwrites the area branch, so for a given max_rd
        # at most two steps coexist (featurealigner.py:1277-1299); every
        # grid ends at the fine grid's max, the distance the candidates
        # were sized for
        steps = {adaptive_grid(a, max_rd)[0] for a in (0.0, MAX_AREA_OPTIMIZATION + 1.0)}
        grids = {s: distance_grid(max(grid), s) if len(steps) > 1 else grid for s in steps}
    if ref_key_col is not None and ref_key_col in theme_df.columns:
        theme_df = theme_df.withColumn(CLAIM_COL, F.col(ref_key_col))
    sweep = Sweep(
        grids, max_rd, eps, min_stable, max_predictions, prediction_strategy,
        full_reference_strategy, eq_tol,
    )
    return run_kernel(spark, theme_df, ref_df, cfg, broadcast_ref, sweep)
