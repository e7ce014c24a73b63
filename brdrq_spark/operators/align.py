"""The flagship operator: distributed border alignment at one or more
relevant distances (reference: ``aligner.predict(relevant_distances)``,
plugin/brdrq/brdrq_algorithm_autocorrectborders.py:613-625).

Semantics (pinned precisely here; the reference delegates the math to the
closed brdr package, so SURVEY.md §7.3 mandates our own exact definition
with the same observable contract — docs/autocorrectborders.md:80-84,
125-127, ProcessResult slots brdrq_utils.py:1144-1162):

For thematic polygon T, reference parcel R_i, relevant distance rd:
  I_i   = T ∩ R_i
  U_i   = R_i \\ T                       (uncovered part of the parcel)
  * erode(U_i, rd/2) empty  → parcel nearly fully covered → keep ALL of
    R_i (snap to the full parcel border)
  * erode(I_i, rd/2) empty  → sliver overlap → keep R_i iff overlap%
    >= threshold_overlap_percentage (default 50,
    brdrq_algorithm_autocorrectborders.py:856), else drop I_i
  * otherwise (partial)     → keep (R_i ∩ dilate(open(I_i, rd/2), rd)):
    the substantial core of the overlap, grown up to rd so it snaps to
    parcel borders within reach, clipped to the parcel.
Open-domain remainder OD = T \\ ∪R_i handled per od_strategy
(docs/autocorrectborders.md:188-193): EXCLUDE drops it, AS_IS keeps it
verbatim, SNAP_SINGLE_SIDE keeps it with its edges snapped onto
reference boundaries only where the snap moves the edge to the INNER
side of the thematic polygon, SNAP_ALL_SIDE (the reference default,
brdrq_settings.py:162) snaps its edges to reference boundaries within
rd on both sides. Result cleaned by snap-rounding to a
correction_distance / 2 grid (0.01 m default,
brdrq_algorithm_autocorrectborders.py:193), which collapses
sub-correction slivers and gaps.

Execution shape. The kernel sees one thematic feature with its O(1)-ish
candidate parcels at a time; the rd grid is looped *inside* the kernel
so per-pair intersections are computed once and reused across distances
(the reference recomputes per distance —
brdrq_dockwidget_featurealigner.py:1676-1688 — we hoist). Its candidates
come from ``candidates``: a probe of the reference layer's shared
``PreparedReference`` index (``broadcast_ref=True``, or None with a
reference within ``spark.sql.autoBroadcastJoinThreshold``), the
cell-join plan otherwise. Both emit identical rows. On the prepared
path a theme side whose plan-estimated size is within the same
threshold is collected when ``align`` is called (one job); this is the
only part of the plan ``align`` owns. Zero or one theme is aligned
right there in the driver and returned as a local relation: collecting
it runs no job and no longer needs the broadcast. Two or more run ONE
``mapInPandas`` over a local scan of the collected rows, which cuts n
rows into min(n, defaultParallelism) contiguous slices, one task each,
without a shuffle; the rows are first reordered so that every task
reads a similar WKB byte total (``_balanced_slices``). A ``share``
(``checkpointed_align``'s per-shard share of the cores) coalesces runs
of adjacent slices, still without a shuffle, so concurrent shards run
their kernel tasks in one wave. The cutoff is one theme, not the core
count, so the driver's serial kernel work stays one feature at any
cluster size. Every other theme side goes to
``candidates.candidate_groups``.

``evaluate`` runs this plan too (``run_kernel``), with its scoring
inside the kernel: each theme's sweep becomes its prediction rows in
the task that computed it, so a one-feature evaluate is one job, like a
one-feature align.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from brdrq_spark.geom import (
    bbox,
    bbox_distance,
    boolean_op,
    buffer_rings,
    rings_area,
    rings_from_wkb,
    rings_perimeter,
    rings_to_wkb,
)
from brdrq_spark.geom.buffer import erode_nonempty, open_rings
from brdrq_spark.geom.wkb import polygon_bboxes_batch, rings_from_wkb_hybrid
from brdrq_spark.geom.coarse import snap_normalize
from brdrq_spark.geom.clip import area_of_op
from brdrq_spark.grid import cell_cover_bbox, pick_resolution
from brdrq_spark.operators.candidates import (
    INLINE_WKB_BYTES,
    _fits_broadcast,
    _prepared_path,
    candidate_groups,
    cell_join_rows,
    probe_stream,
)

_TINY = 1e-6  # m²; below = empty for relevance purposes
# evaluate's equality_by_id: the reference id a theme claims, carried on
# the theme row into the kernel; its candidate rows then carry ref_id
CLAIM_COL = "_ref_key"


def distance_grid(max_rd: float, step: float = 0.1) -> list[float]:
    """The reference's prediction grid: 0 .. max_rd in `step` meters
    (brdrq_algorithm_autocorrectborders.py:627-629; interactive step
    coarsening 10/20/50 cm per brdrq_settings.py:70-73); evaluate
    re-exports it."""
    cents = np.arange(0.0, max_rd * 100.0 + step * 100.0, step * 100.0)
    # Never exceed max_rd: when max_rd is not a step multiple the arange
    # endpoint overshoots (2.2/0.5 -> 2.5), and every dilation / bbox /
    # candidate bound downstream is sized from max(relevant_distances) —
    # an overshooting per-theme grid would silently sweep beyond the
    # candidate radius (ADVICE r6).
    cents = cents[cents <= max_rd * 100.0 + 1e-6]
    return [round(float(c) / 100.0, 2) for c in cents]


OD_EXCLUDE = "EXCLUDE"
OD_AS_IS = "AS_IS"
OD_SNAP_SINGLE_SIDE = "SNAP_SINGLE_SIDE"
OD_SNAP_ALL_SIDE = "SNAP_ALL_SIDE"
_OD_SNAP_MODES = (OD_SNAP_SINGLE_SIDE, OD_SNAP_ALL_SIDE)


@dataclass
class AlignConfig:
    """Processor knobs (reference ProcessorConfig,
    plugin/brdrq/brdrq_algorithm_common.py:85-102; defaults
    brdrq_algorithm_autocorrectborders.py:192-193, 856)."""

    relevant_distances: list[float] = field(default_factory=lambda: [2.0])
    od_strategy: str = OD_SNAP_ALL_SIDE  # reference default, brdrq_settings.py:162
    threshold_overlap_percentage: float = 50.0
    # the result snap-rounds to a correction_distance/2 grid
    correction_distance: float = 0.01
    max_candidates_per_theme: int = 2000  # admission control (O5 analogue)
    nseg: int = 8  # arc segments for erosion tests (speed/precision knob)
    # OD snap densification: no OD edge longer than this before snapping
    # (reference snap_max_segment_length default 2,
    # plugin/brdrq/brdrq_settings.py:294-304)
    od_snap_max_segment_length: float = 2.0
    # SOSA actuation lineage emission (reference writes brdr_metadata per
    # output feature, brdrq_algorithm_autocorrectborders.py:574-577;
    # structure per fixture plugin/brdrq/test/themelayer_metadata.geojson)
    emit_metadata: bool = False
    ref_source: str = "brdrq_spark:reference"
    ref_version_col: str = "VERSDATUM"
    # explicit hot-cell salting for the shuffle-join path (dense urban
    # cells, reference qa.qmd:19-40): theme side keyed by
    # (cell, hash(theme_id) % salt), reference rows replicated salt ways.
    # 0 = rely on AQE skew splitting; the prepared path has no join.
    salt: int = 0
    # multi_as_single_modus (reference default True,
    # brdrq_algorithm_autocorrectborders.py:192 via
    # brdrq_algorithm_common.py:97): True aligns each polygon part of a
    # MultiPolygon independently (per-part relevance decisions) and
    # recombines; False treats the whole multipolygon as one unit.
    multi_as_single_modus: bool = True
    # partial_snapping (reference ProcessorConfig,
    # brdrq_dockwidget_featurealigner.py:1518-1522; strategy default
    # PREFER_VERTICES, brdrq_settings.py:178): when True, the PARTIAL
    # branch's grown piece additionally snaps its boundary vertices onto
    # the candidate reference boundaries within rd.
    partial_snapping: bool = False
    partial_snap_strategy: str = "PREFER_VERTICES"
    partial_snap_max_segment_length: float = 2.0
    # calculation CRS (reference default EPSG:31370, updated from the
    # thematic layer — brdrq_algorithm_autocorrectborders.py:194). The
    # engine computes in ONE projected meter CRS; align() hard-errors on
    # an undefined crs or a ref_crs mismatch exactly like the reference
    # (brdrq_utils.py:1498-1502, 1551-1555 — functions/crs.py).
    crs: str = "EPSG:31370"
    ref_crs: str | None = None  # None = same as crs


ALIGN_SCHEMA = T.StructType(
    [
        T.StructField("theme_id", T.StringType()),
        T.StructField("brdr_relevant_distance", T.DoubleType()),
        T.StructField("result_wkb", T.BinaryType()),
        T.StructField("result_diff_wkb", T.BinaryType()),
        T.StructField("result_diff_plus_wkb", T.BinaryType()),
        T.StructField("result_diff_min_wkb", T.BinaryType()),
        T.StructField("result_relevant_intersection_wkb", T.BinaryType()),
        T.StructField("result_relevant_diff_wkb", T.BinaryType()),
        T.StructField("brdr_area", T.DoubleType()),
        T.StructField("brdr_perimeter", T.DoubleType()),
        T.StructField("brdr_shape_index", T.DoubleType()),
        T.StructField("brdr_sym_diff_area", T.DoubleType()),
        T.StructField("brdr_sym_diff_area_index", T.DoubleType()),
        T.StructField("brdr_sym_diff_area_index_perc", T.DoubleType()),
        T.StructField("brdr_diff_area_index", T.DoubleType()),
        T.StructField("brdr_diff_length_index", T.DoubleType()),
        T.StructField("brdr_full_actual", T.BooleanType()),
        T.StructField("brdr_ref_full_area", T.DoubleType()),
        T.StructField("brdr_remark", T.StringType()),
        T.StructField("brdr_nr_references", T.IntegerType()),
        T.StructField("cell_ids", T.ArrayType(T.LongType())),
        T.StructField("brdr_metadata", T.StringType()),
    ]
)


def inradius(rings, nseg: int = 6, iters: int = 9, halves=None) -> float:
    """Largest d with nonempty erosion (the piece's inradius), by
    bisection — erosion-emptiness is monotone in d, so a rd-grid sweep
    needs only this one number per piece instead of an erosion test per
    (piece, rd) pair. Resolution: upper_bound / 2^iters.

    ``halves``: sorted array of the ONLY values the result is ever
    compared against (the sweep's rd/2 grid). The comparisons are
    ``r <= half``; the full bisection's result r lies in the current
    bracket [lo, hi), so once no grid half falls in [lo, hi) every
    comparison is already determined — half >= hi gives True (r < hi),
    half < lo gives False (r >= lo) — and returning ``hi`` as the
    threshold reproduces the full run's decisions EXACTLY while
    skipping the remaining near-threshold erosion probes (the ones the
    analytic certificates can never decide — measured 2805/2808 probes
    built an exact scanbeam table). Bit-identical by construction; the
    probes that still run are the same prefix the full bisection runs."""
    if not rings:
        return 0.0
    a = rings_area(rings)
    if a <= _TINY:
        return 0.0
    mnx, mny, mxx, mxy = bbox(rings)
    hi = min(float(np.sqrt(a / np.pi)), (mxx - mnx) / 2.0, (mxy - mny) / 2.0)
    if hi <= 0:
        return 0.0
    lo = 0.0
    for _ in range(iters):
        if halves is not None:
            i = int(np.searchsorted(halves, lo, side="left"))
            if i >= len(halves) or halves[i] >= hi:
                return hi  # no grid half in [lo, hi): decisions settled
        mid = 0.5 * (lo + hi)
        if erode_nonempty(rings, mid, nseg):
            lo = mid
        else:
            hi = mid
    return lo


def _precompute_pairs(
    theme_rings, ref_ring_sets, cfg: AlignConfig, with_inradius: bool = True,
    halves=None,
):
    """Per-candidate rd-independent facts: intersection, uncovered part,
    overlap %, and (for grid sweeps) the two inradii driving the branch
    decisions. Single-rd calls skip the inradius bisection — a direct
    erosion test at that rd is cheaper. ``halves`` (the sorted rd/2
    grid) lets the bisection stop early once its bracket contains no
    grid half (see ``inradius``)."""
    from brdrq_spark.geom.clip import boolean_op_multi

    pre = []
    for refs in ref_ring_sets:
        # one scanbeam table yields both the overlap and the uncovered
        # parcel part (uncov = refs \ theme = rdifference on the same
        # (theme, refs) table)
        inter, uncov = boolean_op_multi(
            theme_rings, refs, ("intersection", "rdifference")
        )
        a_i = rings_area(inter)
        if a_i <= _TINY:
            pre.append(None)
            continue
        p = {
            "inter": inter,
            "uncov": uncov,
            "a_i": a_i,
            "pct": 100.0 * a_i / max(rings_area(refs), _TINY),
            "r_uncov": None,
            "r_inter": None,
        }
        if with_inradius:
            p["r_uncov"] = inradius(uncov, cfg.nseg, halves=halves)
            p["r_inter"] = inradius(inter, cfg.nseg, halves=halves)
        pre.append(p)
    return pre


def _align_one(theme_rings, ref_ring_sets, rd: float, cfg: AlignConfig, pre=None):
    """Align one thematic geometry against its candidate parcels at rd.

    Branch decisions come from precomputed inradii (floats); only the
    rd-dependent partial branch does per-rd geometry. ``decision_key``:
    when two grid distances produce the same decisions with no partial
    branch, their results are geometrically identical — evaluate() sweeps
    exploit this (the reference recomputes every distance,
    brdrq_dockwidget_featurealigner.py:1676-1688)."""
    if pre is None:
        pre = _precompute_pairs(theme_rings, ref_ring_sets, cfg)
    kept: list[np.ndarray] = []
    rel_inter: list[np.ndarray] = []
    rel_diff: list[np.ndarray] = []
    half = rd / 2.0
    decisions: list = []
    for idx, refs in enumerate(ref_ring_sets):
        p = pre[idx]
        if p is None:
            decisions.append("skip")
            continue
        inter = p["inter"]
        full = (
            p["r_uncov"] <= half
            if p["r_uncov"] is not None
            else not erode_nonempty(p["uncov"], half, cfg.nseg)
        )
        if full:  # uncovered part erodes away → snap to the full parcel
            kept.extend(refs)
            rel_inter.extend(inter)
            decisions.append("full")
            continue
        sliver = (
            p["r_inter"] <= half
            if p["r_inter"] is not None
            else not erode_nonempty(inter, half, cfg.nseg)
        )
        if sliver:  # the overlap itself is a sliver
            if p["pct"] >= cfg.threshold_overlap_percentage:
                kept.extend(refs)
                rel_inter.extend(inter)
                decisions.append("sliver_in")
            else:
                rel_diff.extend(inter)
                decisions.append("sliver_out")
            continue
        core = open_rings(inter, half, cfg.nseg)
        grown = boolean_op(refs, buffer_rings(core, rd, cfg.nseg), "intersection")
        if cfg.partial_snapping and grown:
            # snap the partial piece's boundary onto the parcel edges
            # (reference partial_snapping + partial_snap_strategy,
            # brdrq_dockwidget_featurealigner.py:1518-1522)
            from brdrq_spark.operators.network import snap_polygon_rings

            grown, _nv, _ns, _mv = snap_polygon_rings(
                grown,
                [refs],
                rd,
                cfg.partial_snap_max_segment_length,
                cfg.partial_snap_strategy,
            )
        kept.extend(grown)
        rel_inter.extend(core)
        rel_diff.extend(boolean_op(inter, grown, "difference"))
        decisions.append(("partial", rd))  # rd-dependent: never cache-hits

    return {
        "kept": kept,
        "rel_inter": rel_inter,
        "rel_diff": rel_diff,
        "decision_key": tuple(decisions),
    }


def _align_parts(theme_parts, ref_ring_sets, rd: float, cfg: AlignConfig, pres):
    """multi_as_single_modus=True: every polygon part of a MultiPolygon
    theme runs the relevance decisions independently (reference default,
    brdrq_algorithm_autocorrectborders.py:192); kept/relevant pieces
    merge before the shared finalize+union. Single-part themes take the
    plain path unchanged."""
    if len(theme_parts) == 1:
        return _align_one(theme_parts[0], ref_ring_sets, rd, cfg, pre=pres[0])
    merged = {"kept": [], "rel_inter": [], "rel_diff": [], "decision_key": ()}
    for part, pre in zip(theme_parts, pres):
        r = _align_one(part, ref_ring_sets, rd, cfg, pre=pre)
        merged["kept"].extend(r["kept"])
        merged["rel_inter"].extend(r["rel_inter"])
        merged["rel_diff"].extend(r["rel_diff"])
        merged["decision_key"] += (r["decision_key"],)
    return merged


def _snap_od(od_rings, all_ref_rings, theme_rings, rd: float, cfg: AlignConfig):
    """Snap the OD remainder's edges onto nearby reference boundaries
    (docs/autocorrectborders.md:188-193). Rings are densified (no segment
    longer than od_snap_max_segment_length), then every vertex within rd
    of a reference boundary moves to its nearest boundary point.
    SNAP_SINGLE_SIDE additionally reverts any snap that would move the
    edge OUTSIDE the thematic polygon (only inner-side movement allowed).
    The snapped rings are re-normalized through a union pass (snapping
    can fold edges)."""
    if not od_rings or not all_ref_rings:
        return list(od_rings)
    from brdrq_spark.geom.core import _edges
    from brdrq_spark.geom import point_in_rings
    from brdrq_spark.operators.snaplines import _snap_vertices, densify

    edges = _edges(all_ref_rings)
    ref_verts = np.vstack(all_ref_rings)
    out = []
    for ring in od_rings:
        closed = np.vstack([ring, ring[:1]])
        dense = densify(closed, cfg.od_snap_max_segment_length)[:-1]
        snapped, moved = _snap_vertices(dense, edges, ref_verts, rd, "NO_PREFERENCE")
        if cfg.od_strategy == OD_SNAP_SINGLE_SIDE and moved.any():
            revert = moved & ~point_in_rings(snapped, theme_rings)
            snapped[revert] = dense[revert]
        out.append(snapped)
    return boolean_op(out, [], "union")


def _finalize(parts, theme_rings, ref_ring_sets, od_part, rd: float, cfg: AlignConfig):
    """Expensive tail of the alignment: OD handling, final union,
    correction cleanup. Split from the decision loop so grid sweeps can
    cache-skip it when decisions repeat across distances."""
    kept = list(parts["kept"])
    rel_diff = list(parts["rel_diff"])
    all_refs = [r for refs in ref_ring_sets for r in refs]
    if cfg.od_strategy == OD_AS_IS:
        kept = kept + od_part
    elif cfg.od_strategy in _OD_SNAP_MODES:
        kept = kept + _snap_od(od_part, all_refs, theme_rings, rd, cfg)
    else:  # EXCLUDE
        rel_diff.extend(od_part)

    result = boolean_op(kept, [], "union")
    if cfg.correction_distance > 0 and result:
        result = snap_normalize(result, cfg.correction_distance / 2.0)
    return {
        "result": result,
        "relevant_intersection": boolean_op(parts["rel_inter"], [], "union"),
        "relevant_diff": boolean_op(rel_diff, [], "union"),
        "all_refs": all_refs,
    }


def _make_kernel(cfg: AlignConfig, res: int, sweep=None):
    """The per-theme kernel: one frame of a theme's candidate rows in,
    its rows at every relevant distance out. ``sweep`` (evaluate's
    ``Sweep``) picks each theme's grid from its area and turns the
    theme's rows into evaluate's prediction rows."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        theme_id = pdf["theme_id"].iloc[0]
        # first NON-NULL WKB: oversized features ship NULL through the
        # cell explode (hybrid shipping) and deliver their WKB on the
        # bare union row instead
        _tw = pdf["theme_wkb"].dropna()
        theme_wkb = _tw.iloc[0] if len(_tw) else None
        theme_rings = rings_from_wkb(theme_wkb) if len(_tw) else []
        t_area = rings_area(theme_rings)
        remark = ""
        rds = cfg.relevant_distances
        if sweep is not None:
            rds = sweep.grid(t_area)
            if rds is None:
                return sweep.blocked(theme_id)
        # dedupe: shared cells produce repeated (theme, ref) rows; doing
        # it here replaces a full distinct() shuffle stage. refmap keeps
        # (ref_id, version_date) per candidate for lineage emission.
        has_ids = "ref_id" in pdf.columns
        refmap: dict = {}
        if has_ids:
            vers = pdf["ref_version"] if "ref_version" in pdf.columns else None
            for i, b in enumerate(pdf["ref_wkb"]):
                if b is None:
                    continue
                bb = bytes(b)
                if bb not in refmap:
                    refmap[bb] = (
                        pdf["ref_id"].iloc[i],
                        None if vers is None else vers.iloc[i],
                    )
            ref_wkbs = list(refmap)
        else:
            ref_wkbs = list(
                dict.fromkeys(bytes(b) for b in pdf["ref_wkb"] if b is not None)
            )
        if len(ref_wkbs) > cfg.max_candidates_per_theme:
            # deterministic admission: nearest-by-bbox first (then WKB
            # bytes as tiebreak) so the kept set is independent of
            # shuffle arrival order. This branch only fires on dense
            # 100s-of-candidates themes, so the bboxes come from the
            # batch decoder (bit-identical; rare unparsable rows keep
            # the scalar expression)
            tb = bbox(theme_rings)
            bb4, nv, fb = polygon_bboxes_batch(ref_wkbs)

            def _adm_key(pair):
                i, w = pair
                if fb[i] or nv[i] == 0:
                    return (bbox_distance(tb, bbox(rings_from_wkb(w))), w)
                return (
                    bbox_distance(tb, (bb4[i, 0], bb4[i, 1], bb4[i, 2], bb4[i, 3])),
                    w,
                )

            ref_wkbs = [
                w for _, w in sorted(enumerate(ref_wkbs), key=_adm_key)
            ][: cfg.max_candidates_per_theme]
            remark = f"candidates_capped_at_{cfg.max_candidates_per_theme}"
        # candidate decode: scalar path for parcel-sized groups, batch
        # walk for dense ones (rings_from_wkb_hybrid crossover ~24)
        decoded = [
            (r, b)
            for r, b in zip(rings_from_wkb_hybrid(ref_wkbs), ref_wkbs)
            if r
        ]
        ref_ring_sets = [r for r, _ in decoded]
        ref_infos = [refmap.get(b, (None, None)) for _, b in decoded]
        if not ref_ring_sets and not remark:
            remark = "no_reference_candidates"

        t_perim = rings_perimeter(theme_rings)
        # multi_as_single_modus: decompose MultiPolygon themes into parts
        # so each runs its own relevance decisions (no-op for the common
        # single-part theme)
        from brdrq_spark.geom.core import split_parts

        theme_parts = (
            split_parts(theme_rings) if cfg.multi_as_single_modus else [theme_rings]
        )
        # hoisted across the rd grid: intersections, uncovered parts,
        # and (for sweeps) the per-piece inradii driving branch decisions
        _halves = np.asarray(sorted(rd / 2.0 for rd in rds))
        pres = [
            _precompute_pairs(
                p, ref_ring_sets, cfg,
                with_inradius=len(rds) > 2,
                halves=_halves,
            )
            for p in theme_parts
        ]

        # OD remainder is rd-independent: compute once per theme
        all_ref_rings = [r for refs in ref_ring_sets for r in refs]
        od_part = (
            boolean_op(theme_rings, all_ref_rings, "difference")
            if all_ref_rings
            else list(theme_rings)
        )

        out = []
        cache: dict = {}
        # OD snapping is rd-dependent whenever there is an OD remainder:
        # such rows can never be cache-shared across grid distances
        od_snaps = (
            cfg.od_strategy in _OD_SNAP_MODES
            and bool(od_part)
            and bool(all_ref_rings)
        )
        multi = len(theme_parts) > 1
        for rd in rds:
            parts = _align_parts(theme_parts, ref_ring_sets, rd, cfg, pres)
            key = parts["decision_key"]
            # per-ref view of the decisions: with a multi-part theme the
            # key is a tuple of per-part tuples — a ref counts as adopted
            # whole when ANY part adopted it whole
            if multi:
                flat = []
                for i in range(len(ref_ring_sets)):
                    ds = [pk[i] for pk in key]
                    if "full" in ds:
                        flat.append("full")
                    elif "sliver_in" in ds:
                        flat.append("sliver_in")
                    elif any(isinstance(d, tuple) for d in ds):
                        flat.append(next(d for d in ds if isinstance(d, tuple)))
                    else:
                        flat.append("skip")
                flat = tuple(flat)
            else:
                flat = key
            if key in cache:
                # identical branch decisions, no rd-dependent branch =>
                # identical geometry; reuse the computed row wholesale
                row = dict(cache[key])
                row["brdr_relevant_distance"] = float(rd)
                out.append(row)
                continue
            md = None
            if cfg.emit_metadata and has_ids:
                used = [
                    ref_infos[i]
                    for i, d in enumerate(flat)
                    if d in ("full", "sliver_in") or isinstance(d, tuple)
                ]
                md = json.dumps(
                    {
                        "actuation": {
                            "id": f"brdrq:actuation:{theme_id}",
                            "type": "sosa:Actuation",
                            "reference_geometries": [
                                {
                                    "id": f"brdrq:result:{theme_id}:{rid}",
                                    "type": "geo:MultiPolygon",
                                    "version_date": rvd,
                                    "derived_from": {
                                        "id": rid,
                                        "type": "geo:Feature",
                                        "source": cfg.ref_source,
                                    },
                                }
                                # by id: candidate order is shuffle
                                # arrival order on the join path
                                for rid, rvd in sorted(used, key=lambda u: str(u[0]))
                            ],
                        }
                    },
                    sort_keys=True,
                )
            r = _finalize(parts, theme_rings, ref_ring_sets, od_part, rd, cfg)
            result = r["result"]
            a = rings_area(result)
            p = rings_perimeter(result)
            from brdrq_spark.geom.clip import boolean_op_multi

            # one table for both difference directions; symdiff is their
            # disjoint union, so its ring set is the plain concatenation
            dplus, dmin = boolean_op_multi(
                result, theme_rings, ("difference", "rdifference")
            )
            diff = dplus + dmin
            sym = rings_area(diff)
            full_actual = (
                bool(r["all_refs"])
                and area_of_op(result, r["all_refs"], "difference") <= _TINY
            )
            # total area of references adopted WHOLE (full / sliver_in
            # decisions keep the entire parcel): the equality_by_full_
            # reference evaluation (evaluate.py) compares it to the
            # result area — shoelace sums only, no extra boolean op
            full_ref_area = sum(
                rings_area(ref_ring_sets[i])
                for i, d in enumerate(flat)
                if d in ("full", "sliver_in")
            )
            mnx, mny, mxx, mxy = bbox(result) if result else (0.0, 0.0, -1.0, -1.0)
            cells = (
                cell_cover_bbox(mnx, mny, mxx, mxy, res).tolist() if result else []
            )
            row = (
                {
                    "theme_id": theme_id,
                    "brdr_relevant_distance": float(rd),
                    "result_wkb": rings_to_wkb(result),
                    "result_diff_wkb": rings_to_wkb(diff),
                    "result_diff_plus_wkb": rings_to_wkb(dplus),
                    "result_diff_min_wkb": rings_to_wkb(dmin),
                    "result_relevant_intersection_wkb": rings_to_wkb(
                        r["relevant_intersection"]
                    ),
                    "result_relevant_diff_wkb": rings_to_wkb(r["relevant_diff"]),
                    "brdr_area": a,
                    "brdr_perimeter": p,
                    "brdr_shape_index": (p / a) if a > 0 else 0.0,
                    "brdr_sym_diff_area": sym,
                    "brdr_sym_diff_area_index": (sym / t_area) if t_area > 0 else 0.0,
                    "brdr_sym_diff_area_index_perc": (100.0 * sym / t_area)
                    if t_area > 0
                    else 0.0,
                    "brdr_diff_area_index": ((a - t_area) / t_area) if t_area > 0 else 0.0,
                    "brdr_diff_length_index": ((p - t_perim) / t_perim)
                    if t_perim > 0
                    else 0.0,
                    "brdr_full_actual": full_actual,
                    "brdr_ref_full_area": full_ref_area,
                    "brdr_remark": remark,
                    "brdr_nr_references": len(ref_ring_sets),
                    "cell_ids": cells,
                    "brdr_metadata": md,
                }
            )
            if (
                not any(isinstance(d, tuple) for d in flat) and not od_snaps
            ):
                cache[key] = row  # no rd-dependent branch: reusable
            out.append(row)
        if sweep is not None:
            return sweep.score(out, theme_wkb, sweep.claimed(pdf))
        return pd.DataFrame(out)

    return kernel


def _cell_res(cfg: AlignConfig) -> int:
    return pick_resolution(max(cfg.relevant_distances))


def prepare_reference(
    spark: SparkSession, ref_df: DataFrame, config: AlignConfig | None = None
):
    """The ``PreparedReference`` that ``align`` with this config probes
    on its broadcast path — built on first use, then shared by every
    call on the same ``ref_df`` object. Call ``.release()`` on it to
    free the broadcast before ``ref_df`` itself goes away."""
    from brdrq_spark.operators.prepared import PreparedReference

    cfg = config or AlignConfig()
    version_col = cfg.ref_version_col if cfg.emit_metadata else None
    return PreparedReference.of(spark, ref_df, _cell_res(cfg), version_col)


def _theme_rows(theme_df: DataFrame, claim: bool) -> DataFrame:
    """The kernel's theme side: (theme_id, geom_wkb), plus evaluate's
    claimed reference id ``CLAIM_COL`` when ``claim``."""
    return theme_df.select("theme_id", "geom_wkb", *([CLAIM_COL] if claim else []))


def _candidate_plan(cfg: AlignConfig, claim: bool) -> dict:
    """The candidate arguments of ``cfg``: cells at ``_cell_res``, cover
    at 2·max_rd·1.01, bbox distance <= 2·max_rd; ``ref_id`` for lineage
    (``emit_metadata``, with ``ref_version``) and for a claimed id."""
    max_rd = max(cfg.relevant_distances)
    return {
        "res": _cell_res(cfg),
        "dilate": 2.0 * max_rd * 1.01,
        "reach": 2.0 * max_rd,
        "ids": cfg.emit_metadata or claim,
        "version_col": cfg.ref_version_col if cfg.emit_metadata else None,
    }


def _balanced_slices(sizes: np.ndarray, bounds: list[int]) -> np.ndarray:
    """Row order under which the contiguous slices [bounds[i],
    bounds[i+1]) carry similar ``sizes`` totals: largest first, each
    into the lightest slice with room."""
    room = np.diff(bounds)
    k = len(room)
    load = np.zeros(k)
    slices: list[list[int]] = [[] for _ in range(k)]
    for row in np.argsort(-sizes, kind="stable"):
        free = np.flatnonzero(room)
        s = free[np.argmin(load[free])]
        slices[s].append(row)
        load[s] += sizes[row]
        room[s] -= 1
    return np.concatenate(slices)


def align_candidate_rows(
    spark: SparkSession,
    theme_df: DataFrame,
    ref_df: DataFrame,
    cfg: AlignConfig,
    broadcast_ref: bool | None = None,
):
    """Pre-kernel half of ``align``'s cell-join path: the candidate rows
    of ``candidates.cell_join_rows`` with align's arguments, returned as
    (rows, res). Exposed separately so benchmarks can time the
    relational stage apart from the geometry kernel;
    ``broadcast_ref=True`` here only hints a broadcast join (the
    prepared path of ``align`` does not run this plan)."""
    claim = CLAIM_COL in theme_df.columns
    plan = _candidate_plan(cfg, claim)
    rows = cell_join_rows(
        spark, _theme_rows(theme_df, claim), ref_df, "theme_id", **plan,
        inline_budget=INLINE_WKB_BYTES, salt=cfg.salt, broadcast_ref=broadcast_ref,
    )
    return rows, plan["res"]


def align(
    spark: SparkSession,
    theme_df: DataFrame,
    ref_df: DataFrame,
    config: AlignConfig | None = None,
    broadcast_ref: bool | None = None,
) -> DataFrame:
    """Distributed aligner.predict over a thematic and a reference table.

    theme_df: (theme_id string, geom_wkb binary [, ...passthrough])
    ref_df:   (ref_id string, geom_wkb binary [, ...])
    Returns one row per (theme_id, relevant_distance) with the six
    ProcessResult geometry slots + metric columns (FIXTURES.md §4).

    ``broadcast_ref``: True probes the ``PreparedReference`` of
    ``ref_df`` (built on the first call, which runs one collect job);
    False runs the cell shuffle-join plan; None picks the prepared path
    when the plan-estimated size of the reference is within
    ``spark.sql.autoBroadcastJoinThreshold``. On the prepared path a
    theme side within that threshold is collected when ``align`` is
    called, so its plan runs exactly once, here; a single theme is
    then aligned in the driver and the returned DataFrame is a local
    relation (see "Execution shape" above). A larger theme side stays
    lazy.
    """
    return run_kernel(spark, theme_df, ref_df, config or AlignConfig(), broadcast_ref)


def run_kernel(
    spark: SparkSession,
    theme_df: DataFrame,
    ref_df: DataFrame,
    cfg: AlignConfig,
    broadcast_ref: bool | None,
    sweep=None,
    share: int | None = None,
) -> DataFrame:
    """``align``'s plan with the kernel ``_make_kernel(cfg, res, sweep)``,
    for ``align`` and evaluate: a theme side collected on the prepared
    path runs here, in at most ``share`` tasks (see "Execution shape"
    above); any other goes to ``candidates.candidate_groups``."""
    schema = ALIGN_SCHEMA if sweep is None else sweep.schema
    # CRS guard: one defined meter CRS for both layers (reference
    # brdrq_utils.py:1498-1502, 1551-1555)
    from brdrq_spark.functions.crs import require_same_crs

    require_same_crs(cfg.crs, cfg.ref_crs if cfg.ref_crs is not None else cfg.crs)
    claim = CLAIM_COL in theme_df.columns
    themes = _theme_rows(theme_df, claim)
    plan = _candidate_plan(cfg, claim)
    kernel = _make_kernel(cfg, plan["res"], sweep)
    prepared = _prepared_path(spark, ref_df, broadcast_ref)
    if not (prepared and _fits_broadcast(spark, themes)):
        # pass the path chosen here: the reference size is estimated once
        return candidate_groups(
            spark, themes, ref_df, kernel, schema, broadcast_ref=prepared,
            inline_budget=INLINE_WKB_BYTES, salt=cfg.salt, **plan,
        )
    stream = probe_stream(spark, ref_df, kernel, **plan)
    # a small theme side is read once, now, in one job
    collected = themes.toPandas()
    n = len(collected)
    if n <= 1:
        # one feature: align it here — a Python task would cost more
        # than the kernel — and return a local relation (createDataFrame
        # maps pandas columns by position)
        out = list(stream([collected]))
        return spark.createDataFrame(
            out[0][schema.names] if out and len(out[0]) else [], schema
        )
    # a local scan cuts n rows into min(n, defaultParallelism) contiguous
    # slices, one task each: no shuffle needed to fill the cores. A
    # smaller share coalesces runs of adjacent slices (a narrow
    # dependency). Kernel time grows with the geometry, so order the rows
    # to give every task a similar WKB byte total.
    scan = min(n, spark.sparkContext.defaultParallelism)
    tasks = min(share or scan, scan)
    # coalesce task g reads scan slices [g*scan/tasks, ...), and scan
    # slice j holds rows [j*n/scan, ...)
    bounds = [g * scan // tasks * n // scan for g in range(tasks + 1)]
    sizes = collected["geom_wkb"].map(lambda b: len(b) if b else 0)
    collected = collected.iloc[_balanced_slices(sizes.to_numpy(), bounds)]
    local = spark.createDataFrame(collected, themes.schema)
    if tasks < scan:
        local = local.coalesce(tasks)
    return local.mapInPandas(stream, schema=schema)
