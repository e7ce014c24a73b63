"""Line/point alignment via vertex snapping (reference A10: experimental
(Multi)LineString/(Multi)Point support, CHANGES.md v0.11.0; SnapStrategy
enum NO_PREFERENCE / PREFER_VERTICES / ONLY_VERTICES /
PREFER_ENDS_AND_ANGLES with snap_max_segment_length=2,
plugin/brdrq/brdrq_utils.py:181-182, brdrq_settings.py:294-304).

Semantics pinned here: each polyline is densified so no segment exceeds
``snap_max_segment_length``, then every vertex within
``relevant_distance`` of a candidate reference boundary moves per the
strategy:

* NO_PREFERENCE          → nearest point on the boundary;
* PREFER_VERTICES        → nearest reference *vertex* if one is within
  rd, else nearest boundary point;
* ONLY_VERTICES          → nearest reference vertex within rd or stay;
* PREFER_ENDS_AND_ANGLES → treated as PREFER_VERTICES (parcel corners
  are its "angles"; the reference leaves the distinction undocumented).

Execution shape: a line's candidates are the reference parcels sharing
a cell with the cover of its bbox (all vertices of all parts) dilated
by 2·rd, with no distance refine. They come from
``candidates.candidate_groups`` — a probe of the prepared reference
index when the reference fits the broadcast threshold (or
``broadcast_ref=True``), the cell-join plan otherwise — and go to a
per-line pandas kernel with vectorized point-segment math. A line
without cell-mates keeps its geometry with remark
``no_reference_candidates``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from brdrq_spark.geom.core import _edges, _seg_point_dist2
from brdrq_spark.geom.wkb import lines_from_wkb, lines_to_wkb, rings_from_wkb_hybrid
from brdrq_spark.grid import pick_resolution
from brdrq_spark.operators.candidates import candidate_groups


SNAP_NO_PREFERENCE = "NO_PREFERENCE"
SNAP_PREFER_VERTICES = "PREFER_VERTICES"
SNAP_ONLY_VERTICES = "ONLY_VERTICES"
SNAP_PREFER_ENDS_AND_ANGLES = "PREFER_ENDS_AND_ANGLES"

SNAPLINE_SCHEMA = T.StructType(
    [
        T.StructField("theme_id", T.StringType()),
        T.StructField("result_wkb", T.BinaryType()),
        T.StructField("n_vertices", T.IntegerType()),
        T.StructField("n_snapped", T.IntegerType()),
        T.StructField("max_move", T.DoubleType()),
        T.StructField("brdr_remark", T.StringType()),
    ]
)


def densify(line: np.ndarray, max_seg: float) -> np.ndarray:
    """Insert vertices so no segment exceeds max_seg meters."""
    if len(line) < 2 or max_seg <= 0:
        return line
    out = [line[:1]]
    for i in range(len(line) - 1):
        p, q = line[i], line[i + 1]
        d = float(np.hypot(*(q - p)))
        n_extra = int(np.ceil(d / max_seg)) if d > max_seg else 1
        ts = np.linspace(0.0, 1.0, n_extra + 1)[1:]
        out.append(p[None, :] + ts[:, None] * (q - p)[None, :])
    return np.vstack(out)


def _snap_vertices(verts, edges, ref_verts, rd, strategy):
    """Vectorized snap of (m,2) verts against (e,4) edges / (v,2) ref
    vertices. Returns (snapped (m,2), moved mask)."""
    out = verts.copy()
    moved = np.zeros(len(verts), dtype=bool)
    if len(edges):
        d2 = _seg_point_dist2(
            verts[:, 0][:, None], verts[:, 1][:, None],
            edges[:, 0][None, :], edges[:, 1][None, :],
            edges[:, 2][None, :], edges[:, 3][None, :],
        )
        best = np.argmin(d2, axis=1)
        best_d = np.sqrt(d2[np.arange(len(verts)), best])
        # projection point on the best segment
        e = edges[best]
        dx = e[:, 2] - e[:, 0]
        dy = e[:, 3] - e[:, 1]
        ll = dx * dx + dy * dy
        t = np.clip(
            np.where(
                ll > 0,
                ((verts[:, 0] - e[:, 0]) * dx + (verts[:, 1] - e[:, 1]) * dy)
                / np.where(ll > 0, ll, 1.0),
                0.0,
            ),
            0.0,
            1.0,
        )
        proj = np.column_stack([e[:, 0] + t * dx, e[:, 1] + t * dy])
    else:
        best_d = np.full(len(verts), np.inf)
        proj = verts
    if len(ref_verts):
        vd2 = (
            (verts[:, 0][:, None] - ref_verts[:, 0][None, :]) ** 2
            + (verts[:, 1][:, None] - ref_verts[:, 1][None, :]) ** 2
        )
        vbest = np.argmin(vd2, axis=1)
        vbest_d = np.sqrt(vd2[np.arange(len(verts)), vbest])
        vpt = ref_verts[vbest]
    else:
        vbest_d = np.full(len(verts), np.inf)
        vpt = verts

    if strategy == SNAP_ONLY_VERTICES:
        m = vbest_d <= rd
        out[m] = vpt[m]
        moved |= m
    elif strategy in (SNAP_PREFER_VERTICES, SNAP_PREFER_ENDS_AND_ANGLES):
        mv = vbest_d <= rd
        out[mv] = vpt[mv]
        mb = (~mv) & (best_d <= rd)
        out[mb] = proj[mb]
        moved |= mv | mb
    else:  # NO_PREFERENCE
        m = best_d <= rd
        out[m] = proj[m]
        moved |= m
    return out, moved


def _line_bboxes(pdf: pd.DataFrame):
    """``(bb, has)`` of a batch of line/point WKB: the bbox of every
    vertex of every part; ``has`` False for an empty geometry."""
    bb = np.zeros((len(pdf), 4))
    has = np.zeros(len(pdf), dtype=bool)
    for i, w in enumerate(pdf["geom_wkb"]):
        ls = lines_from_wkb(w)
        if ls:
            v = np.vstack(ls)
            bb[i] = v[:, 0].min(), v[:, 1].min(), v[:, 0].max(), v[:, 1].max()
            has[i] = True
    return bb, has


def align_lines(
    spark: SparkSession,
    theme_df: DataFrame,
    ref_df: DataFrame,
    relevant_distance: float = 2.0,
    snap_strategy: str = SNAP_NO_PREFERENCE,
    snap_max_segment_length: float = 2.0,
    broadcast_ref: bool | None = None,
) -> DataFrame:
    """Snap thematic (Multi)LineStrings/Points to reference boundaries.

    theme_df: (theme_id, geom_wkb) with line/point WKB.
    Returns one row per theme with the snapped geometry + metrics.
    """
    rd = relevant_distance

    def _snap_one(pdf: pd.DataFrame) -> pd.DataFrame:
        theme_id = pdf["theme_id"].iloc[0]
        lines = lines_from_wkb(pdf["theme_wkb"].iloc[0])
        ref_wkbs = list(
            dict.fromkeys(bytes(b) for b in pdf["ref_wkb"] if b is not None)
        )
        ring_sets = rings_from_wkb_hybrid(ref_wkbs)
        edges = (
            np.vstack([_edges(rs) for rs in ring_sets if rs])
            if any(ring_sets)
            else np.zeros((0, 4))
        )
        ref_verts = (
            np.vstack([r for rs in ring_sets for r in rs])
            if any(ring_sets)
            else np.zeros((0, 2))
        )
        out_lines = []
        n_v = 0
        n_s = 0
        max_move = 0.0
        for line in lines:
            dense = densify(line, snap_max_segment_length) if len(line) > 1 else line
            snapped, moved = _snap_vertices(
                dense, edges, ref_verts, rd, snap_strategy
            )
            n_v += len(dense)
            n_s += int(moved.sum())
            if moved.any():
                max_move = max(
                    max_move,
                    float(np.hypot(*(snapped[moved] - dense[moved]).T).max()),
                )
            out_lines.append(snapped)
        remark = "" if ref_wkbs else "no_reference_candidates"
        return pd.DataFrame(
            [
                {
                    "theme_id": theme_id,
                    "result_wkb": lines_to_wkb(out_lines),
                    "n_vertices": n_v,
                    "n_snapped": n_s,
                    "max_move": max_move,
                    "brdr_remark": remark,
                }
            ]
        )

    return candidate_groups(
        spark,
        theme_df.select("theme_id", "geom_wkb"),
        ref_df,
        _snap_one,
        SNAPLINE_SCHEMA,
        res=pick_resolution(rd),
        dilate=2.0 * rd * 1.01,
        reach=np.inf,
        bboxes=_line_bboxes,
        broadcast_ref=broadcast_ref,
    )
