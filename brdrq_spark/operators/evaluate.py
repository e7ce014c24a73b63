"""Prediction sweep over a relevant-distance grid + stability scoring
(reference: ``aligner.evaluate(relevant_distances, max_predictions, ...)``,
plugin/brdrq/brdrq_algorithm_autocorrectborders.py:626-646; grid
``np.arange(0, rd*100, 10)/100`` ibid.:627-629; interactive variant
plugin/brdrq/brdrq_dockwidget_featurealigner.py:1676-1680).

Stability semantics pinned here (brdr-internal in the reference; the
observable contract is the cheatsheet's "prediction = rd where the result
stays constant across consecutive steps, score grows with the stable
span" — SURVEY.md §2.6 W1):

* one align pass computes the whole grid (intersections hoisted in the
  kernel), producing (theme_id, rd) rows;
* a row is *stable* when its sym-diff-area index changed less than
  ``eps`` vs the previous grid step (lag window);
* gaps-and-islands (cumsum of change flags) yields stable runs; a run of
  length >= ``min_stable`` is a *prediction*, represented by its first
  (cheapest) rd; ``brdr_prediction_score`` = run length;
* ``brdr_evaluation`` labels follow the reference enum
  (docs/autocorrectborders.md:209, read at brdrq_utils.py:1259-1271).

Everything after the align pass is pure Spark window algebra — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from brdrq_spark.operators.align import AlignConfig, align, distance_grid

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


def add_stability(
    aligned: DataFrame, eps: float = 1e-3, min_stable: int = 2
) -> DataFrame:
    """Attach brdr_stability / brdr_prediction_score / brdr_prediction_count
    / is_prediction / brdr_evaluation to an align-grid output."""
    w = Window.partitionBy("theme_id").orderBy("brdr_relevant_distance")
    delta = F.abs(
        F.col("brdr_sym_diff_area_index")
        - F.lag("brdr_sym_diff_area_index").over(w)
    )
    changed = F.when(delta.isNull() | (delta > eps), 1).otherwise(0)
    df = aligned.withColumn("_chg", changed).withColumn(
        "_run", F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    wrun = Window.partitionBy("theme_id", "_run")
    wrun_ord = wrun.orderBy("brdr_relevant_distance")
    df = (
        df.withColumn("_run_len", F.count("*").over(wrun))
        .withColumn("_rn_in_run", F.row_number().over(wrun_ord))
        .withColumn("brdr_stability", F.col("_run_len") >= min_stable)
        .withColumn(
            "is_prediction",
            (F.col("_rn_in_run") == 1) & (F.col("_run_len") >= min_stable),
        )
        .withColumn(
            "brdr_prediction_score",
            F.when(F.col("brdr_stability"), F.col("_run_len").cast("double")).otherwise(
                F.lit(0.0)
            ),
        )
    )
    wt = Window.partitionBy("theme_id")
    df = df.withColumn(
        "brdr_prediction_count",
        F.sum(F.col("is_prediction").cast("int")).over(wt).cast("int"),
    )
    df = df.withColumn(
        "brdr_evaluation",
        F.when(
            F.col("is_prediction") & (F.col("brdr_sym_diff_area_index") < 1e-9),
            F.lit("no_change"),
        )
        .when(
            F.col("is_prediction") & (F.col("brdr_prediction_count") == 1),
            F.lit("prediction_unique"),
        )
        .when(
            F.col("is_prediction") & (F.col("brdr_prediction_count") > 1),
            F.lit("to_check_prediction_multi"),
        )
        .otherwise(F.lit("not_evaluated")),
    )
    return df.drop("_chg", "_run", "_rn_in_run", "_run_len")


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
    (``adaptive_grid``): themes above 1e6 m² are excluded from the
    sweep but still appear in the output as explicit rows with
    ``brdr_evaluation = 'blocked_by_area'`` (the reference blocks them
    loudly and points at the bulk path — silent disappearance would
    break any consumer joining results back to the input), and the
    grid step is the reference's PER-FEATURE resolution of the policy
    chain: themes bucket by area (at most two steps for a given
    ``max_rd``, since the rd branch overwrites the area branch) and a
    per-theme step column (``AlignConfig.step_col``) lets ONE fused
    align pass sweep each theme over its own grid — a small theme
    co-swept with a big one keeps the 10 cm step the reference would
    give it, and the candidate cell-join subtree runs once, not once
    per bucket. No driver-side probe job runs; the admission filter
    rides lineage — downstream passes re-run the map-only Arrow area
    decode rather than pinning a persisted copy of the theme table in
    executor memory (one extra decode per pass is cheap next to a
    ~40-distance alignment sweep of the same geometry).
    """
    cfg = config or AlignConfig()
    blocked = None
    if auto_step:
        from dataclasses import replace as _dc_replace

        from brdrq_spark.functions.geo import area_udf

        with_area = theme_df.withColumn("_o5_area", area_udf()(F.col("geom_wkb")))
        admitted = with_area.where(F.col("_o5_area") <= F.lit(MAX_AREA_LIMIT))
        blocked = with_area.where(F.col("_o5_area") > F.lit(MAX_AREA_LIMIT)).select(
            "theme_id"
        )
        theme_df = admitted.drop("_o5_area")
        # PER-FEATURE grid step, exactly as the reference's chain
        # resolves it per feature (featurealigner.py:1277-1299). The rd
        # branch overwrites the area branch, so for a given max_rd at
        # most TWO steps coexist (10 cm / 50 cm when max_rd <= 7.5 m; a
        # single step above). A per-theme step column drives the
        # kernel's grid, so BOTH steps ride one align pass — a small
        # theme co-swept with a big one keeps its fine step instead of
        # inheriting a coarse global one, no driver-side area-probe
        # job runs at call time, and the candidate subtree isn't paid
        # twice.
        step_fine, _ = adaptive_grid(0.0, max_rd)
        step_coarse, _ = adaptive_grid(MAX_AREA_OPTIMIZATION + 1.0, max_rd)
        if step_fine == step_coarse:
            bcfg = _dc_replace(
                cfg, relevant_distances=distance_grid(max_rd, step_fine)
            )
            aligned = align(
                spark, theme_df, ref_df, bcfg, broadcast_ref=broadcast_ref
            )
        else:
            # ONE fused pass for both area buckets: the buckets differ
            # only in grid step, so a per-theme step column
            # (AlignConfig.step_col) lets every theme sweep its own
            # distance_grid(max_rd, step) inside a single candidate
            # plan — previously each bucket re-ran the whole cell-join
            # subtree, doubling the sweep's dominant fixed cost.
            stepped = admitted.withColumn(
                "_o5_step",
                F.when(
                    F.col("_o5_area") > F.lit(MAX_AREA_OPTIMIZATION),
                    F.lit(step_coarse),
                ).otherwise(F.lit(step_fine)),
            ).drop("_o5_area")
            bcfg = _dc_replace(
                cfg,
                relevant_distances=distance_grid(max_rd, step_fine),
                step_col="_o5_step",
            )
            aligned = align(
                spark, stepped, ref_df, bcfg, broadcast_ref=broadcast_ref
            )
    else:
        cfg.relevant_distances = distance_grid(max_rd, step)
        aligned = align(spark, theme_df, ref_df, cfg, broadcast_ref=broadcast_ref)
    scored = add_stability(aligned, eps=eps, min_stable=min_stable)

    preds = scored.filter(F.col("is_prediction"))

    # equality refinement on the (small) prediction set only — the
    # by-id join + sym-diff UDF never touch the full grid output
    if ref_key_col is not None and ref_key_col in theme_df.columns:
        from brdrq_spark.functions.geo import sym_diff_area_udf

        # both side tables join the already-filtered prediction set;
        # broadcast them when the caller or the size estimate says they
        # fit (_broadcast_if_small) so the path adds no shuffle
        # exchanges on small/medium layers while an explicit
        # broadcast_ref=False keeps the shuffled join for layers whose
        # WKB payload cannot sit on the driver
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
        preds = (
            preds.join(keys, "theme_id", "left")
            .join(refgeo, "_ref_key", "left")
            .withColumn(
                "_eq_id",
                F.col("_ref_geom").isNotNull()
                & (
                    sym_diff_area_udf()(F.col("result_wkb"), F.col("_ref_geom"))
                    <= F.lit(eq_tol)
                ),
            )
            .drop("_ref_key", "_ref_geom")
        )
    else:
        preds = preds.withColumn("_eq_id", F.lit(False))
    unchanged = F.col("brdr_sym_diff_area_index") < 1e-9
    eq_full = F.col("brdr_full_actual") & (
        F.abs(F.col("brdr_area") - F.col("brdr_ref_full_area")) <= F.lit(eq_tol)
    )
    preds = preds.withColumn(
        "brdr_evaluation",
        F.when(
            unchanged & F.col("_eq_id") & eq_full,
            F.lit("equality_by_id_and_full_reference"),
        )
        .when(unchanged & F.col("_eq_id"), F.lit("equality_by_id"))
        .when(unchanged & eq_full, F.lit("equality_by_full_reference"))
        .otherwise(F.col("brdr_evaluation")),
    ).drop("_eq_id")
    if full_reference_strategy == FULL_REF_ONLY:
        preds = preds.filter(F.col("brdr_full_actual"))
    elif full_reference_strategy == FULL_REF_PREFER:
        preds = preds.withColumn(
            "brdr_prediction_score",
            F.when(
                F.col("brdr_full_actual"), F.col("brdr_prediction_score") * 1.5
            ).otherwise(F.col("brdr_prediction_score")),
        )
    wbest = Window.partitionBy("theme_id").orderBy(
        F.desc("brdr_prediction_score"), F.asc("brdr_relevant_distance")
    )
    preds = preds.withColumn("_rank", F.row_number().over(wbest))
    if prediction_strategy == STRATEGY_BEST:
        preds = preds.filter(F.col("_rank") == 1)
    elif max_predictions and max_predictions > 0:
        preds = preds.filter(F.col("_rank") <= max_predictions)
    if prediction_strategy == STRATEGY_ORIGINAL:
        # several competing predictions -> keep the SOURCE geometry
        # (reference brdrq_algorithm_common.py:123-130: "the ORIGINAL if
        # there are multiple predictions")
        src = theme_df.select("theme_id", F.col("geom_wkb").alias("_src_wkb"))
        preds = (
            preds.join(src, "theme_id", "left")
            .withColumn(
                "result_wkb",
                F.when(
                    F.col("brdr_prediction_count") > 1, F.col("_src_wkb")
                ).otherwise(F.col("result_wkb")),
            )
            .drop("_src_wkb")
        )
    out = preds.drop("_rank")
    if blocked is not None:
        # one explicit row per blocked theme (mirrors the topology
        # sentinel contract): theme_id + the blocked label, every other
        # column null — consumers can distinguish "refused by admission
        # control" from "lost"
        sentinel_cols = [
            F.col("theme_id")
            if f.name == "theme_id"
            else F.lit("blocked_by_area").alias(f.name)
            if f.name == "brdr_evaluation"
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in out.schema.fields
        ]
        out = out.unionByName(blocked.select(*sentinel_cols))
    return out
