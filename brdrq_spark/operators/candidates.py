"""Spatial candidate generation: the filter half of filter-and-refine.

Re-expresses the reference's three candidate mechanisms (SURVEY.md §2.3
J1-J3: buffered-extent semi-join brdrq_utils.py:1569-1590 +
brdrq_algorithm_autocorrectborders.py:782-800; bbox+distance refine
brdrq_dockwidget_featurealigner.py:1653-1667; within-distance preselect
brdrq_dockwidget_bulkaligner.py:211-227) as ONE rule: a theme's cover
at a dilation, matched cell for cell against the reference's cover,
then a bbox-distance refine (``reach``; infinite keeps every cell-mate).

Every operator gets its candidates through ``candidate_groups``, which
hands each theme's candidate rows to the operator's own kernel along
one of two paths:

* prepared (``broadcast_ref=True``, or None with a reference within
  ``spark.sql.autoBroadcastJoinThreshold``): the theme rows probe the
  shared ``PreparedReference`` index (``probe_stream``); no explode,
  join or repartition. ``align`` runs the same ``probe_stream`` over a
  theme side it has collected (in the driver for one theme);
* cell join (otherwise): both layers are cell-exploded
  (``cells_exploded``) and equi-joined on cell (``cell_join_rows``),
  then repartitioned by key and streamed through the kernel
  (``stream_groups``). At cluster scale the equi-join on int64 cell ids
  shuffles hash-partitioned by cell; AQE's skew-join splitting handles
  hot cells (dense urban areas — reference qa.qmd:19-40), ``salt`` adds
  explicit key salting on top, and ``hot_cell_threshold`` re-indexes
  dense cells at a finer resolution (``split_hot_cells``).

Both paths apply the same cover and distance arithmetic, so they hand
the kernel the same candidate set.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from brdrq_spark.functions.geo import geo_features_udf
from brdrq_spark.geom import bbox, rings_from_wkb
from brdrq_spark.geom.wkb import polygon_bboxes_batch
from brdrq_spark.grid import cell_id, cover_ranges

# hybrid WKB shipping on the cell-join path (``inline_budget``): a theme
# whose cells x WKB bytes exceed this ships its WKB on the bare row only
# instead of duplicating a 100 KB polygon into 1000 cell rows; the
# prepared path explodes nothing
INLINE_WKB_BYTES = 1 << 18


def plan_partitions(df: DataFrame) -> int:
    """Physical partition count of a DataFrame WITHOUT the classic
    ``df.rdd`` Python-RDD conversion (which wraps the whole plan in a
    Python serializer — avoidable planning cost on wide plans at
    cluster scale). ``queryExecution().toRdd()`` stays JVM-side; falls
    back to ``df.rdd`` on non-classic sessions (e.g. Connect)."""
    try:
        return df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        return df.rdd.getNumPartitions()


def plan_size_bytes(df: DataFrame) -> int | None:
    """The optimizer's plan-time size estimate of ``df`` in bytes (the
    statistic Catalyst's auto-broadcast rule reads), or None when the
    session cannot report one (e.g. Connect)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
    except AttributeError:  # no JVM plan behind the DataFrame
        return None
    # py4j hands the Scala BigInt over as an int; str() covers both forms
    return int(str(stats.sizeInBytes()))


def wkb_bboxes(wkb_list) -> tuple[np.ndarray, np.ndarray]:
    """Batch bbox decode: ``(bbox (n, 4), has (n,) bool)``, ``has`` False
    for empty or degenerate geometries. Vectorized through
    ``polygon_bboxes_batch``; rows it cannot handle (big-endian, nested
    multis, corrupt buffers) re-decode through ``rings_from_wkb``, so
    every bbox is bit-identical to ``bbox(rings_from_wkb(w))`` and
    corrupt WKB raises."""
    bb, nvalid, fb = polygon_bboxes_batch(wkb_list)
    for k in np.nonzero(fb)[0]:
        rings = rings_from_wkb(wkb_list[k])
        if rings:
            bb[k] = bbox(rings)
            nvalid[k] = len(rings)
    return bb, nvalid > 0


def cover_cells(bb: np.ndarray, res: int, dilate: float):
    """Cell covers of bboxes ``bb`` (n, 4) dilated by ``dilate``, in one
    numpy pass: ``(counts (n,), cells)`` with the cells of row i at
    ``cells[sum(counts[:i]):][:counts[i]]``. The cover arithmetic is
    ``grid.cover_ranges``, so both sides of a cell join, and the
    prepared reference index, agree bit for bit."""
    ix0, iy0, nx, ny = cover_ranges(bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3], res, dilate)
    counts = nx * ny
    total = int(counts.sum())
    row_idx = np.repeat(np.arange(len(counts)), counts)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    off = np.arange(total, dtype=np.int64) - starts[row_idx]
    gx = ix0[row_idx] + off % nx[row_idx]
    gy = iy0[row_idx] + off // nx[row_idx]
    return counts, cell_id(gx.astype(np.uint64), gy.astype(np.uint64), res)


def cells_exploded(
    df: DataFrame,
    id_col: str,
    res: int,
    dilate: float,
    prefix: str,
    wkb_out: str | None = None,
    inline_budget: int | None = None,
    outer: bool = False,
    extra_cols: list[str] | None = None,
    bboxes=None,
) -> DataFrame:
    """decode → bbox → cell cover → EXPLODE, all inside ONE Arrow pass.

    Replaces the with_geo_features + F.explode pair: a relational
    explode is a generator whose input expression is evaluated
    separately from the projection, so the pandas UDF ran TWICE per row
    (ArrowEvalPython at two plan steps). Emitting one output row per
    cell from inside mapInPandas evaluates the decode exactly once and
    drops the generator node entirely.

    ``inline_budget``: hybrid WKB shipping — when
    n_cells * len(wkb) exceeds the budget the WKB column ships NULL
    (caller re-joins it by id); None ships the WKB on every row.
    ``outer``: emit one NULL-cell row for empty geometries (explode_outer
    semantics) so every input id survives.
    ``bboxes``: ``pdf -> (bb (n, 4), has (n,))`` for inputs that are not
    polygon WKB in ``geom_wkb`` (lines, edge endpoint columns); None
    decodes ``geom_wkb`` with ``wkb_bboxes``.

    The per-batch work is two-phase: the WKB decode walks rows (header
    structure is inherently per-geometry; the bbox comes from the same
    snapped ring set the kernels see, so covers stay bit-identical to
    the per-row path), then the cover + row assembly is ONE numpy pass
    over the whole batch — index ranges, repeat-by-count id/bbox
    columns, and a single Morton interleave over every emitted cell,
    instead of a per-row meshgrid + list-extend (measured ~3x on the
    4096-parcel cover batch).
    """
    import pandas as pd

    extra_cols = list(extra_cols or [])
    in_schema = df.schema
    fields = [T.StructField(id_col, in_schema[id_col].dataType)]
    if wkb_out:
        fields.append(T.StructField(wkb_out, T.BinaryType()))
    fields += [
        T.StructField(f"{prefix}_minx", T.DoubleType()),
        T.StructField(f"{prefix}_miny", T.DoubleType()),
        T.StructField(f"{prefix}_maxx", T.DoubleType()),
        T.StructField(f"{prefix}_maxy", T.DoubleType()),
        T.StructField("cell", T.LongType()),
    ]
    for c in extra_cols:
        fields.append(in_schema[c])
    schema = T.StructType(fields)
    names = [f.name for f in fields]

    def gen(batches):
        for pdf in batches:
            # phase 1 — vectorized batch decode (wkb_bboxes: one numpy
            # offset walk, ~25x the per-row header walk); empty -> outer
            wkb_list = pdf["geom_wkb"].tolist() if "geom_wkb" in pdf else []
            bb, has = bboxes(pdf) if bboxes else wkb_bboxes(wkb_list)
            ids_all = pdf[id_col].to_numpy(dtype=object)
            wkb_all = np.empty(len(pdf), dtype=object)
            if wkb_out:
                wkb_all[:] = wkb_list
            ex_all = {c: pdf[c].to_numpy(dtype=object) for c in extra_cols}

            # outer rows are built with EXPLICIT object dtype: concat of a
            # float64 body column with an all-None column relies on
            # deprecated pandas promotion rules (FutureWarning today, dtype
            # change later); object + None converts to typed Arrow nulls
            # deterministically on every pandas version
            def _outer_pdf():
                miss = ~has
                n_miss = int(miss.sum())
                data = {id_col: pd.Series(list(ids_all[miss]), dtype=object)}
                if wkb_out:
                    data[wkb_out] = pd.Series(list(wkb_all[miss]), dtype=object)
                for k in (f"{prefix}_minx", f"{prefix}_miny",
                          f"{prefix}_maxx", f"{prefix}_maxy", "cell"):
                    data[k] = pd.Series([None] * n_miss, dtype=object)
                for c in extra_cols:
                    data[c] = pd.Series(list(ex_all[c][miss]), dtype=object)
                return pd.DataFrame(data, columns=names)

            if not has.any():
                yield _outer_pdf() if outer else pd.DataFrame(
                    {n: pd.Series([], dtype=object) for n in names},
                    columns=names,
                )
                continue
            ids = ids_all[has]
            wkbs = wkb_all[has]
            ex_vals = {c: ex_all[c][has] for c in extra_cols}

            # phase 2 — one vectorized cover + assembly for the batch
            bb = bb[has]
            counts, cells = cover_cells(bb, res, dilate)

            out: dict[str, np.ndarray] = {}
            out[id_col] = np.repeat(np.asarray(ids, dtype=object), counts)
            if wkb_out:
                ship = np.asarray(wkbs, dtype=object)
                if inline_budget is not None:
                    lens = np.asarray(
                        [len(w) if w is not None else 0 for w in wkbs],
                        dtype=np.int64,
                    )
                    ship = ship.copy()
                    ship[counts * lens > inline_budget] = None
                out[wkb_out] = np.repeat(ship, counts)
            out[f"{prefix}_minx"] = np.repeat(bb[:, 0], counts)
            out[f"{prefix}_miny"] = np.repeat(bb[:, 1], counts)
            out[f"{prefix}_maxx"] = np.repeat(bb[:, 2], counts)
            out[f"{prefix}_maxy"] = np.repeat(bb[:, 3], counts)
            out["cell"] = cells
            for c in extra_cols:
                out[c] = np.repeat(np.asarray(ex_vals[c], dtype=object), counts)
            body = pd.DataFrame(out, columns=names)
            if outer and not has.all():
                body = pd.concat([body, _outer_pdf()], ignore_index=True)
            yield body

    geom = ["geom_wkb"] if "geom_wkb" in df.columns and "geom_wkb" not in extra_cols else []
    return df.select(id_col, *geom, *extra_cols).mapInPandas(gen, schema=schema)


def with_geo_features(
    df: DataFrame, geom_col: str = "geom_wkb", res: int = 10, dilate: float = 0.0
) -> DataFrame:
    """Attach minx/miny/maxx/maxy/area/perimeter/cells columns."""
    feat = geo_features_udf(res, dilate)
    return df.withColumn("_g", feat(F.col(geom_col))).select("*", "_g.*").drop("_g")


def _fine_cells_udf(fine_res: int, dilate: float, prefix: str):
    """Arrow-batched re-cover of (dilated bbox ∩ coarse cell) at a finer
    resolution — the adaptive-split path for hot cells."""
    import pandas as pd

    from brdrq_spark.grid import cell_bounds, cell_cover_bbox

    def fine(cell, mnx, mny, mxx, mxy):
        out = []
        for c, a, b, cc, d in zip(cell, mnx, mny, mxx, mxy):
            cb = cell_bounds(int(c))
            x0 = max(a - dilate, cb[0])
            y0 = max(b - dilate, cb[1])
            x1 = min(cc + dilate, cb[2])
            y1 = min(d + dilate, cb[3])
            out.append(
                cell_cover_bbox(x0, y0, x1, y1, fine_res).tolist()
                if x0 <= x1 and y0 <= y1
                else []
            )
        return pd.Series(out)

    return F.pandas_udf(fine, "array<long>")


# auto hot-cell rule: a cell is hot when its reference count exceeds
# max(AUTO_HOT_MIN, AUTO_HOT_FACTOR * median cells-per-cell). On a
# uniform tessellation the median is a handful of parcels, the floor
# wins, and nothing splits (no overhead); a 100x-dense urban cell sits
# orders of magnitude above the median and self-splits without any
# operator tuning (reference O6 skew, docs/qa.qmd:19-40).
AUTO_HOT_MIN = 64
AUTO_HOT_FACTOR = 16.0


def split_hot_cells(
    t: DataFrame,
    r: DataFrame,
    res: int,
    dilate: float,
    threshold: int | str,
    split: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Adaptive cell-level splitting of hot cells (north_star: dense
    urban parcels): cells whose REFERENCE density exceeds ``threshold``
    re-index BOTH sides at res+split inside the cell, so one dense cell's
    candidate pairs spread over up to 4^split finer join keys instead of
    one. Cold rows keep their coarse key; fine ids embed the resolution,
    so mixed-resolution keys can never cross-match. Recall is preserved:
    any true pair's bbox intersection lies in some cell both sides cover,
    and within that cell both sides cover the intersection at the SAME
    (fine) resolution.

    ``threshold="auto"`` derives the cutoff from the cell-count stats
    themselves (median-anchored, see AUTO_HOT_MIN/AUTO_HOT_FACTOR) —
    entirely inside the DAG: the stats aggregate rides the counts
    shuffle as a one-row broadcast, no driver-side probe action runs.

    Inputs are the exploded cell tables of ``cell_join_rows``, with
    bbox columns prefixed t_/r_.
    """
    cnts = r.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    if threshold == "auto":
        stats = cnts.agg(
            F.expr("percentile_approx(_n, 0.5)").cast("double").alias("_med")
        )
        counts = cnts.join(F.broadcast(stats)).filter(
            F.col("_n")
            > F.greatest(
                F.lit(float(AUTO_HOT_MIN)),
                F.lit(AUTO_HOT_FACTOR) * F.col("_med"),
            )
        )
    else:
        counts = cnts.filter(F.col("_n") > threshold)
    hot = F.broadcast(counts.select("cell", F.lit(True).alias("_hot")))

    def expand(df: DataFrame, prefix: str, dil: float) -> DataFrame:
        df = df.join(hot, "cell", "left")
        cold = df.filter(F.col("_hot").isNull()).drop("_hot")
        hotr = df.filter(F.col("_hot").isNotNull()).drop("_hot")
        fine = _fine_cells_udf(res + split, dil, prefix)
        hotr = hotr.withColumn(
            "cell",
            F.explode(
                fine(
                    F.col("cell"),
                    F.col(f"{prefix}minx"),
                    F.col(f"{prefix}miny"),
                    F.col(f"{prefix}maxx"),
                    F.col(f"{prefix}maxy"),
                )
            ),
        )
        return cold.unionByName(hotr)

    return expand(t, "t_", dilate), expand(r, "r_", 0.0)


def _fits_broadcast(spark: SparkSession, df: DataFrame) -> bool:
    """Catalyst's own auto-broadcast rule: the plan-time size estimate
    of ``df`` is within ``spark.sql.autoBroadcastJoinThreshold`` (-1
    disables it)."""
    size = plan_size_bytes(df)
    if size is None:
        return False
    return 0 <= size <= spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def _prepared_path(spark: SparkSession, ref_df: DataFrame, broadcast_ref: bool | None) -> bool:
    """The choice between the prepared and the cell-join path: True
    probes, False joins, None probes when the reference fits
    ``_fits_broadcast``."""
    return bool(broadcast_ref) or (
        broadcast_ref is None
        and _fits_broadcast(spark, ref_df.select("ref_id", "geom_wkb"))
    )


def stream_groups(batches, key: str):
    """Per-``key`` frames of a stream of pandas batches whose rows are
    sorted by ``key`` (one Arrow stream per partition instead of one
    round-trip per group); a group split across adjacent batches is
    buffered until its last row is seen."""
    import pandas as pd

    buf = None
    for pdf in batches:
        if buf is not None and len(buf):
            pdf = pd.concat([buf, pdf], ignore_index=True)
        if not len(pdf):
            buf = None
            continue
        last = pdf[key].iloc[-1]
        done = pdf[pdf[key] != last]
        buf = pdf[pdf[key] == last]
        for _, g in done.groupby(key, sort=False):
            yield g
    if buf is not None and len(buf):
        yield buf


def cell_join_rows(
    spark: SparkSession,
    themes: DataFrame,
    ref_df: DataFrame,
    key: str,
    res: int,
    dilate: float,
    reach: float,
    bboxes=None,
    outer: bool = True,
    ids: bool = False,
    version_col: str | None = None,
    inline_budget: int | None = None,
    salt: int = 0,
    hot_cell_threshold: int | str | None = None,
    broadcast_ref: bool | None = None,
) -> DataFrame:
    """The cell-join candidate plan: one row per (theme row, reference
    cell-mate within ``reach``) with the theme's columns (``geom_wkb``
    as ``theme_wkb``) and ``ref_wkb`` (plus ``ref_id`` when ``ids``, and
    ``ref_version`` from ``version_col`` when given). A pair sharing
    several cells repeats; kernels dedupe.

    ``outer`` unions one bare row per theme (NULL reference columns), so
    a theme without candidates still reaches its kernel; it always
    carries the theme WKB, which ``inline_budget`` (hybrid shipping,
    see ``cells_exploded``) may NULL on the exploded rows of oversized
    features. ``salt`` > 0 keys the theme side by (cell, hash(key) %
    salt) and replicates the reference rows ``salt`` ways, so one dense
    cell spreads over ``salt`` shuffle partitions; ``hot_cell_threshold``
    (an int cutoff or ``"auto"``) re-indexes dense cells at a finer
    resolution (``split_hot_cells``). Both are ignored with
    ``broadcast_ref=True``, which hints a broadcast join."""
    # the decode+cover pass is the per-row cost here: make sure neither
    # side arrives as a handful of parquet-file partitions and serializes
    # the pass (a single 4k-parcel file would otherwise run on one core)
    par = spark.sparkContext.defaultParallelism
    if plan_partitions(themes) < par:
        themes = themes.repartition(par)
    if plan_partitions(ref_df) < par:
        ref_df = ref_df.repartition(par)
    has_wkb = "geom_wkb" in themes.columns
    carry = [c for c in themes.columns if c not in (key, "geom_wkb")]
    t = cells_exploded(
        themes, key, res, dilate, "t",
        wkb_out="theme_wkb" if has_wkb else None,
        inline_budget=inline_budget, extra_cols=carry, bboxes=bboxes,
    )
    ref_cols = [F.col("ref_id"), F.col("geom_wkb")]
    ref_extra = []
    if version_col is not None:
        ref_cols.append(
            (
                F.col(version_col).cast("string")
                if version_col in ref_df.columns
                else F.lit(None).cast("string")
            ).alias("ref_version")
        )
        ref_extra = ["ref_version"]
    r = cells_exploded(
        ref_df.select(*ref_cols), "ref_id", res, 0.0, "r",
        wkb_out="ref_wkb", extra_cols=ref_extra,
    )
    if hot_cell_threshold is not None and not broadcast_ref:
        t, r = split_hot_cells(t, r, res, dilate, hot_cell_threshold)
    join_keys = ["cell"]
    if salt > 0 and not broadcast_ref:
        t = t.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(key)), F.lit(salt)).cast("int")
        )
        r = r.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        ).withColumn("_salt", F.col("_salt").cast("int"))
        join_keys = ["cell", "_salt"]
    if broadcast_ref:
        r = F.broadcast(r)
    cand = t.join(r, join_keys)
    if np.isfinite(reach):
        # bbox distance <= reach as pure column arithmetic — the exact
        # geometry test happens inside the operator's kernel
        dx = F.greatest(
            F.col("t_minx") - F.col("r_maxx"), F.col("r_minx") - F.col("t_maxx"), F.lit(0.0)
        )
        dy = F.greatest(
            F.col("t_miny") - F.col("r_maxy"), F.col("r_miny") - F.col("t_maxy"), F.lit(0.0)
        )
        cand = cand.where(F.sqrt(dx * dx + dy * dy) <= F.lit(reach))
    theme_out = [key, *(["theme_wkb"] if has_wkb else []), *carry]
    ref_out = ["ref_wkb", *(["ref_id"] if ids or ref_extra else []), *ref_extra]
    cand = cand.select(*theme_out, *ref_out)
    if not outer:
        return cand
    types = dict(cand.dtypes)
    return cand.unionByName(
        themes.select(
            key,
            *([F.col("geom_wkb").alias("theme_wkb")] if has_wkb else []),
            *carry,
            *(F.lit(None).cast(types[c]).alias(c) for c in ref_out),
        )
    )


def probe_stream(
    spark: SparkSession,
    ref_df: DataFrame,
    kernel,
    res: int,
    dilate: float,
    reach: float,
    bboxes=None,
    outer: bool = True,
    ids: bool = False,
    version_col: str | None = None,
):
    """The prepared path's ``mapInPandas`` function: every batch of
    theme rows probes the shared ``PreparedReference`` of ``ref_df``
    (built here on first use) and each theme's candidate frame
    (``prepared.probe_groups``) goes through ``kernel``."""
    from brdrq_spark.operators.prepared import PreparedReference, probe_groups

    index = PreparedReference.of(spark, ref_df, res, version_col).broadcast

    def stream(batches):
        ref = index.value
        for pdf in batches:
            for g in probe_groups(pdf, ref, res, dilate, reach, bboxes, outer, ids):
                yield kernel(g)

    return stream


def candidate_groups(
    spark: SparkSession,
    themes: DataFrame,
    ref_df: DataFrame,
    kernel,
    schema,
    res: int,
    dilate: float,
    reach: float,
    key: str = "theme_id",
    bboxes=None,
    outer: bool = True,
    ids: bool = False,
    version_col: str | None = None,
    broadcast_ref: bool | None = None,
    inline_budget: int | None = None,
    salt: int = 0,
    hot_cell_threshold: int | str | None = None,
) -> DataFrame:
    """``kernel`` applied to every theme's candidate frame: the theme
    row's columns (``geom_wkb`` as ``theme_wkb``) repeated once per
    candidate, with ``ref_wkb`` (and ``ref_id`` when ``ids``, plus
    ``ref_version`` from ``version_col`` when given). The candidates are
    the reference rows sharing a cell with the theme's bbox cover at
    ``dilate`` (cells of resolution ``res``) whose bbox lies within
    ``reach`` of the theme's; ``bboxes`` computes the theme bboxes from
    a pandas batch (``cells_exploded``). A theme without candidates gets
    one row with NULL reference columns when ``outer``, and no kernel
    call otherwise.

    Where ``_prepared_path`` says so, the theme rows probe the shared
    ``PreparedReference`` index (``probe_stream``), in one task per
    theme partition, raised to defaultParallelism; otherwise
    ``cell_join_rows`` builds the rows (``inline_budget``, ``salt`` and
    ``hot_cell_threshold`` apply there), which are repartitioned by
    ``key`` into 4 x defaultParallelism partitions and streamed through
    the kernel. Both paths hand the kernel the same candidate set; the
    probe lists it in the index's reference order."""
    par = spark.sparkContext.defaultParallelism
    if _prepared_path(spark, ref_df, broadcast_ref):
        stream = probe_stream(
            spark, ref_df, kernel, res, dilate, reach, bboxes, outer, ids, version_col
        )
        if plan_partitions(themes) < par:
            themes = themes.repartition(par)
        return themes.mapInPandas(stream, schema=schema)
    rows = cell_join_rows(
        spark, themes, ref_df, key, res, dilate, reach, bboxes=bboxes,
        outer=outer, ids=ids, version_col=version_col,
        inline_budget=inline_budget, salt=salt,
        hot_cell_threshold=hot_cell_threshold,
    )

    def stream(batches):
        for g in stream_groups(batches, key):
            yield kernel(g)

    # theme cost varies, so many small partitions keep the stage tail
    # short; sorted, each partition streams its groups contiguously
    parts = rows.repartition(par * 4, key).sortWithinPartitions(key)
    return parts.mapInPandas(stream, schema=schema)
