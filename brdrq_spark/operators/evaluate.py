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
  (docs/autocorrectborders.md:209, read at brdrq_utils.py:1259-1271).

Only the ``ref_key_col`` by-id equality label needs Spark: a join of the
prediction rows with the claimed reference geometry.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from brdrq_spark.operators.align import ALIGN_SCHEMA, AlignConfig, distance_grid, run_kernel

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


def _broadcast_if_small(df: DataFrame, force: bool | None, cap_bytes: int = 64 << 20):
    """Broadcast hint policy for the equality-refinement side tables:
    ``force=True`` (caller asserts the reference is small) always
    broadcasts, ``force=False`` (caller asserts it is NOT) never does —
    a blind F.broadcast of a projection that keeps geometry WKB would
    collect the whole layer to the driver at cluster scale — and the
    ``None`` default consults the optimizer's plan-time size estimate,
    so small/medium layers drop the two side-join shuffles without
    removing the shuffle-join escape hatch for layers that don't fit.
    The cap is deliberately conservative (64 MB): the estimate for a
    file scan is the ON-DISK compressed size, and decoded WKB inflates
    several-fold on the driver — a cap near the broadcast hard limit
    would OOM default-sized drivers on layers it nominally admits."""
    if force is True:
        return F.broadcast(df)
    if force is False:
        return df
    from brdrq_spark.operators.candidates import plan_size_bytes

    size = plan_size_bytes(df)
    if size is not None and size <= cap_bytes:
        return F.broadcast(df)
    return df


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
    ``auto_step``) to its grid; ``keep_aligned`` carries ORIGINAL's
    unswapped results in ``_aligned_wkb`` for the by-id equality test."""

    grids: dict
    max_rd: float
    eps: float
    min_stable: int
    max_predictions: int
    strategy: str
    full_reference: str
    eq_tol: float
    keep_aligned: bool

    @cached_property
    def schema(self) -> T.StructType:
        extra = [T.StructField("_aligned_wkb", T.BinaryType())] if self.keep_aligned else []
        return T.StructType(EVALUATE_SCHEMA.fields + extra)

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

    def score(self, rows: list[dict], theme_wkb) -> pd.DataFrame:
        """Stability runs (gaps and islands over the sym-diff index),
        predictions, labels, the full-reference strategy, the rank by
        score then rd, and ORIGINAL's swap, for one theme's rows."""
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
                # composition: full-actual, and its area is the total of
                # the references adopted whole
                eq_full = full and abs(r["brdr_area"] - r["brdr_ref_full_area"]) <= self.eq_tol
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
                if self.keep_aligned:
                    p["_aligned_wkb"] = p["result_wkb"]
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
      equals that reference feature (sym-diff area <= ``eq_tol`` m²);
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
    task; a one-theme request runs one job. Only the ``ref_key_col``
    by-id join runs in Spark, over the prediction rows.
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
    by_id = ref_key_col is not None and ref_key_col in theme_df.columns
    sweep = Sweep(
        grids, max_rd, eps, min_stable, max_predictions, prediction_strategy,
        full_reference_strategy, eq_tol,
        keep_aligned=by_id and prediction_strategy == STRATEGY_ORIGINAL,
    )
    out = run_kernel(spark, theme_df, ref_df, cfg, broadcast_ref, sweep)
    if not by_id:
        return out
    from brdrq_spark.functions.geo import sym_diff_area_udf

    # both side tables join the prediction rows; broadcast them when the
    # caller or the size estimate says they fit (_broadcast_if_small) so
    # the path adds no shuffle exchanges on small/medium layers while an
    # explicit broadcast_ref=False keeps the shuffled join for layers
    # whose WKB payload cannot sit on the driver
    keys = _broadcast_if_small(
        theme_df.select("theme_id", F.col(ref_key_col).alias("_ref_key")),
        broadcast_ref,
    )
    refgeo = _broadcast_if_small(
        ref_df.select(
            F.col("ref_id").alias("_ref_key"), F.col("geom_wkb").alias("_ref_geom")
        ),
        broadcast_ref,
    )
    aligned = (
        F.coalesce(F.col("_aligned_wkb"), F.col("result_wkb"))
        if sweep.keep_aligned
        else F.col("result_wkb")
    )
    eq_id = F.col("_ref_geom").isNotNull() & (
        sym_diff_area_udf()(aligned, F.col("_ref_geom")) <= F.lit(eq_tol)
    )
    label = F.col("brdr_evaluation")
    return (
        out.join(keys, "theme_id", "left")
        .join(refgeo, "_ref_key", "left")
        .withColumn(
            "brdr_evaluation",
            F.when(
                (F.col("brdr_sym_diff_area_index") < 1e-9) & eq_id,
                F.when(
                    label == "equality_by_full_reference",
                    F.lit("equality_by_id_and_full_reference"),
                ).otherwise(F.lit("equality_by_id")),
            ).otherwise(label),
        )
        .drop("_ref_key", "_ref_geom", "_aligned_wkb")
    )
