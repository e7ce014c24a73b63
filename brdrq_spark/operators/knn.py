"""kNN nearest-boundary-segment search (J6 — mandated by the north_star:
"point-in-polygon and kNN-nearest-boundary-segment refinement").

For every vertex of a thematic footprint, find the k nearest reference
boundary segments. Execution shape: the theme's candidates come from
``candidates.candidate_groups``, the path every operator shares — the
prepared reference index when the reference fits the broadcast
threshold, the cell-join plan otherwise — with the theme bbox covered
at ``search_radius`` and reference bboxes kept within it (a vertex's
nearest segments within the radius lie on those parcels by
construction). A per-theme kernel then does the exact vectorized
point-segment distances. Vertices with no candidate segment within the
radius are ABSENT from the output (no rank-0 placeholder rows);
``knn_with_escalation`` wraps the search in the expanding-ring retry
(SURVEY §2.3 J6: "search ring r, r+1…"): it anti-joins the output
against the vertex set and re-runs only the uncovered vertices' themes
at a widened radius (r, growth·r, growth²·r … capped), so sparse-area
vertices (rural parcels, map edges — the reference's bbox-then-refine
escalation always returns a candidate set,
plugin/brdrq/brdrq_dockwidget_featurealigner.py:1653-1667) are found
without hand-written retry loops.

Memory bound: the kernel walks a theme's candidates in chunks of at
most ``max_refs_per_group`` reference parcels and keeps a running
top-k, so it holds one (vertices x chunk segments) distance matrix plus
(vertices x k) of best rows at a time, however many parcels a dense
area puts near one theme. The top-k under the total order (dist,
ref_id, seg_idx) does not depend on how the candidates are chunked.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from brdrq_spark.geom import rings_from_wkb
from brdrq_spark.geom.core import _edges, _seg_point_dist2
from brdrq_spark.grid import pick_resolution
from brdrq_spark.operators.candidates import candidate_groups

KNN_SCHEMA = T.StructType(
    [
        T.StructField("theme_id", T.StringType()),
        T.StructField("vertex_idx", T.IntegerType()),
        T.StructField("vx", T.DoubleType()),
        T.StructField("vy", T.DoubleType()),
        T.StructField("ref_id", T.StringType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("dist", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ]
)


def _knn_kernel(k: int, search_radius: float, max_refs_per_group: int):
    cols = [f.name for f in KNN_SCHEMA.fields]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        theme_id = pdf["theme_id"].iloc[0]
        rings = rings_from_wkb(pdf["theme_wkb"].iloc[0])
        # one entry per reference row, in (ref_id, WKB) order: the
        # position is then the ref_id tiebreak of the rank order
        refs = sorted(
            {(rid, bytes(w)) for rid, w in zip(pdf["ref_id"], pdf["ref_wkb"]) if w is not None}
        )
        if not rings or not refs:
            return pd.DataFrame(columns=cols)
        verts = np.vstack(rings)
        nv = len(verts)
        # running top-k per vertex: (dist, reference position, seg_idx)
        best_d = np.zeros((nv, 0))
        best_r = np.zeros((nv, 0), dtype=np.int64)
        best_s = np.zeros((nv, 0), dtype=np.int64)
        for lo in range(0, len(refs), max_refs_per_group):
            edges = [_edges(rings_from_wkb(w)) for _, w in refs[lo:lo + max_refs_per_group]]
            counts = [len(e) for e in edges]
            if not sum(counts):
                continue
            E = np.vstack(edges)
            d = np.sqrt(_seg_point_dist2(
                verts[:, 0][:, None], verts[:, 1][:, None],
                E[:, 0][None, :], E[:, 1][None, :],
                E[:, 2][None, :], E[:, 3][None, :],
            ))
            seg_r = np.repeat(np.arange(lo, lo + len(counts)), counts)
            seg_s = np.concatenate([np.arange(c) for c in counts])
            all_d = np.hstack([best_d, d])
            all_r = np.hstack([best_r, np.broadcast_to(seg_r, d.shape)])
            all_s = np.hstack([best_s, np.broadcast_to(seg_s, d.shape)])
            # deterministic k-smallest per vertex: sort by (dist, ref, seg)
            order = np.lexsort((all_s, all_r, all_d), axis=-1)[:, :k]
            best_d = np.take_along_axis(all_d, order, axis=-1)
            best_r = np.take_along_axis(all_r, order, axis=-1)
            best_s = np.take_along_axis(all_s, order, axis=-1)
        vi, rank = np.nonzero(best_d <= search_radius)
        ids = np.asarray([str(rid) for rid, _ in refs], dtype=object)
        return pd.DataFrame(
            {
                "theme_id": theme_id,
                "vertex_idx": vi,
                "vx": verts[vi, 0],
                "vy": verts[vi, 1],
                "ref_id": ids[best_r[vi, rank]],
                "seg_idx": best_s[vi, rank],
                "dist": best_d[vi, rank],
                "rank": rank + 1,
            },
            columns=cols,
        )

    return kernel


def knn_boundary_segments(
    spark: SparkSession,
    theme_df: DataFrame,
    ref_df: DataFrame,
    k: int = 3,
    search_radius: float = 10.0,
    max_refs_per_group: int = 256,
) -> DataFrame:
    """One row per (theme vertex, neighbor segment), rank 1..k by
    distance (ties broken by ref_id, seg_idx — deterministic)."""
    max_rd = search_radius / 2.0
    return candidate_groups(
        spark,
        theme_df.select("theme_id", "geom_wkb"),
        ref_df,
        _knn_kernel(k, search_radius, max_refs_per_group),
        KNN_SCHEMA,
        res=pick_resolution(max_rd),
        dilate=2.0 * max_rd * 1.01,
        reach=2.0 * max_rd,
        outer=False,
        ids=True,
    )


def theme_vertices(theme_df: DataFrame) -> DataFrame:
    """One row per polygon vertex: (theme_id, vertex_idx, vx, vy) —
    the vertex enumeration the kNN kernel uses (np.vstack over rings),
    so anti-joins against kNN output line up index-for-index."""

    def explode(it):
        for pdf in it:
            tids: list[str] = []
            idxs: list[int] = []
            xs: list[float] = []
            ys: list[float] = []
            for tid, wkb in zip(pdf["theme_id"], pdf["geom_wkb"]):
                rings = rings_from_wkb(wkb)
                if not rings:
                    continue
                v = np.vstack(rings)
                tids.extend([tid] * len(v))
                idxs.extend(range(len(v)))
                xs.extend(v[:, 0].tolist())
                ys.extend(v[:, 1].tolist())
            yield pd.DataFrame(
                {"theme_id": tids, "vertex_idx": idxs, "vx": xs, "vy": ys}
            )

    return theme_df.select("theme_id", "geom_wkb").mapInPandas(
        explode, schema="theme_id string, vertex_idx int, vx double, vy double"
    )


def knn_with_escalation(
    spark: SparkSession,
    theme_df: DataFrame,
    ref_df: DataFrame,
    k: int = 3,
    search_radius: float = 10.0,
    max_radius: float = 80.0,
    growth: float = 2.0,
    max_refs_per_group: int = 256,
    materialize: bool = False,
) -> DataFrame:
    """Expanding-ring kNN (J6 escalation): run the bounded search at
    ``search_radius``; vertices it leaves uncovered re-run at
    ``growth * r``, then ``growth² * r`` … until ``max_radius``.

    Each ring touches only the themes that still own uncovered
    vertices (left-semi against the uncovered set), and keeps only the
    uncovered vertices' rows — covered vertices never recompute and
    never duplicate. Ranks within an escalated vertex's rows are the
    ranks of its own ring's search, consistent with a fresh
    ``knn_boundary_segments`` call at that radius. Vertices with no
    reference segment within ``max_radius`` remain absent (the cap is
    the caller's completeness/cost dial; the reference's interactive
    escalation is likewise bounded by the canvas extent).

    Driver-side loop: at most ``log_growth(max_radius/search_radius)``
    rounds (4 at the defaults), each a lazy Spark job over a shrinking
    theme subset — the common case (everything covered in ring 1) pays
    one extra empty-anti-join count. Ring outputs persist so the next
    ring's anti-join does not re-execute the prior ring's subtree;
    each uncovered generation is counted (full materialization, so the
    count doubles as the cache fill) and its predecessor unpersisted —
    at cluster scale a 4-ring escalation must not leave four stale
    shrinking vertex sets pinned in executor storage.

    Cache contract: with ``materialize=False`` (default, lazy) the
    returned plan still references the base + per-ring persisted
    DataFrames — the caller's first action fills them, and they stay
    pinned until the caller is done with the result. Pass
    ``materialize=True`` to consolidate: the union is persisted and
    counted once, every ring cache is released before returning, and
    the caller owns exactly ONE persisted DataFrame (unpersist it when
    finished). Long-lived sessions should use ``materialize=True``."""
    from pyspark import StorageLevel

    if growth <= 1.0:
        # growth <= 1 never advances r: the loop would re-run the same
        # radius against an unchanged uncovered set forever
        raise ValueError(f"growth must be > 1.0, got {growth}")
    verts = theme_vertices(theme_df)
    out = knn_boundary_segments(
        spark, theme_df, ref_df, k, search_radius, max_refs_per_group
    ).persist(StorageLevel.MEMORY_AND_DISK)
    acc = out
    pinned = [out]
    uncovered = verts.join(
        out.select("theme_id", "vertex_idx"), ["theme_id", "vertex_idx"], "left_anti"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_uncovered = uncovered.count()
    r = search_radius * growth
    while r <= max_radius and n_uncovered > 0:
        themes_left = theme_df.join(
            uncovered.select("theme_id").distinct(), "theme_id", "left_semi"
        )
        ring = knn_boundary_segments(
            spark, themes_left, ref_df, k, r, max_refs_per_group
        ).join(
            uncovered.select("theme_id", "vertex_idx"),
            ["theme_id", "vertex_idx"],
            "left_semi",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(ring)
        acc = acc.unionByName(ring)
        nxt = uncovered.join(
            ring.select("theme_id", "vertex_idx"),
            ["theme_id", "vertex_idx"],
            "left_anti",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_uncovered = nxt.count()  # fills nxt's AND ring's cache
        uncovered.unpersist()
        uncovered = nxt
        r *= growth
    uncovered.unpersist()
    if materialize:
        acc = acc.persist(StorageLevel.MEMORY_AND_DISK)
        acc.count()  # fill the consolidated cache, then release the rings
        # zero-escalation case: acc IS pinned[0] (persist on an already-
        # persisted DF is a no-op returning the same DataFrame), so
        # unpersisting it would release the cache we just handed to the
        # caller and every caller action would recompute the kNN subtree
        for h in pinned:
            if h is not acc:
                h.unpersist()
    return acc
