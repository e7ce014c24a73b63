"""Polygon boolean operations via snap-rounded scanbeam trapezoidation.

Classic Vatti-style approach (public literature: Vatti 1992, "A generic
solution to polygon clipping"; also the scanbeam structure used by the
Clipper library): split the plane into horizontal *scanbeams* bounded by
every vertex y and every edge-intersection y; inside a beam, active edges
are non-crossing straight lines, so sorting them by x and accumulating
winding numbers per operand yields the exact inside/outside structure.
Trapezoids of the result are emitted per beam; the merged boundary is
re-extracted by cancelling interior horizontal intervals and chaining the
remaining directed segments into rings.

Replaces GEOS `intersection/union/difference/symmetric_difference` that
the reference uses via brdr/Shapely (observable contract: ProcessResult
slots, plugin/brdrq/brdrq_utils.py:1144-1162). `normalize` replaces
`make_valid` (plugin/brdrq/brdrq_utils.py:448-479).

Robustness: all inputs snapped to the 1e-6 m grid (SNAP); intersection
event ys snapped too. Residual slivers are O(SNAP), far below the
engine's correction_distance (0.01 m).
"""

from __future__ import annotations

import numpy as np

from brdrq_spark.geom.core import SNAP, ring_area, snap_ring

_INV_SNAP = 1.0 / SNAP
# rings / trapezoids below this area are numerical noise — drop
_MIN_AREA = SNAP * SNAP * 100.0
# junction weld tolerance in snap units (1e-4 m): crossing-event snap
# residue is a few units; real vertices are >> 1e-4 m apart
_WELD = 100

_OPS = {
    "union": lambda a, b: a | b,
    "intersection": lambda a, b: a & b,
    "difference": lambda a, b: a & ~b,
    "symdiff": lambda a, b: a ^ b,
    # b \ a over the same (a, b) table — lets one table serve both
    # directions of a difference (boolean_op_multi)
    "rdifference": lambda a, b: b & ~a,
}


def _collect_edges(rings: list[np.ndarray], tag: int, segs, tags):
    """Gather non-horizontal edges. Accepts 2-D rings and 3-D ring
    *blocks* (k, m, 2) — k same-length rings processed in one shot (the
    buffer capsules arrive as blocks)."""
    from brdrq_spark.geom.core import rot1

    for ring in rings:
        if ring.ndim == 3:
            r = np.round(ring * _INV_SNAP) * SNAP
            r2 = np.concatenate((r[:, 1:], r[:, :1]), axis=1)
            keep = (r[:, :, 1] != r2[:, :, 1]).ravel()
            if keep.any():
                flat = np.concatenate(
                    (r.reshape(-1, 2), r2.reshape(-1, 2)), axis=1
                )[keep]
                segs.append(flat)
                tags.append(np.full(len(flat), tag, dtype=np.int8))
            continue
        r = snap_ring(ring)
        if len(r) < 3:
            continue
        r2 = rot1(r)
        keep = r[:, 1] != r2[:, 1]  # horizontals never bound a beam interior
        if keep.any():
            segs.append(np.column_stack([r[keep], r2[keep]]))
            tags.append(np.full(int(keep.sum()), tag, dtype=np.int8))


def _intersection_ys(E: np.ndarray) -> np.ndarray:
    """Snapped y of every proper pairwise edge crossing.

    Plane-sweep enumeration: edges sorted by bbox minx; each edge is
    tested only against the window of edges whose minx falls inside its
    x-extent — near-linear for the spatially local edge sets geometry
    kernels produce, instead of O(e^2) over all pairs.
    """
    n = len(E)
    if n < 2:
        return np.zeros(0)
    x0 = E[:, 0]; y0 = E[:, 1]; x1 = E[:, 2]; y1 = E[:, 3]
    dx = x1 - x0; dy = y1 - y0
    bxmin = np.minimum(x0, x1); bxmax = np.maximum(x0, x1)
    bymin = np.minimum(y0, y1); bymax = np.maximum(y0, y1)

    order = np.argsort(bxmin, kind="stable")
    bmin_s = bxmin[order]
    # window: for sorted edge k, candidates are sorted edges k+1..hi_k
    hi = np.searchsorted(bmin_s, bxmax[order], side="right")
    lo = np.arange(n) + 1
    cnt = np.maximum(hi - lo, 0)
    total = int(cnt.sum())
    if total == 0:
        return np.zeros(0)
    I_s = np.repeat(np.arange(n), cnt)
    cum = np.concatenate(([0], np.cumsum(cnt)))
    J_s = lo.repeat(cnt) + (np.arange(total) - cum[:-1].repeat(cnt))
    i = order[I_s]
    j = order[J_s]
    # y-bbox prefilter (x overlap is guaranteed by the sweep window)
    bb = (bymin[i] <= bymax[j]) & (bymin[j] <= bymax[i])
    i, j = i[bb], j[bb]
    if not len(i):
        return np.zeros(0)
    denom = dx[i] * dy[j] - dy[i] * dx[j]
    ok = denom != 0
    i, j, denom = i[ok], j[ok], denom[ok]
    wx = x0[j] - x0[i]
    wy = y0[j] - y0[i]
    t = (wx * dy[j] - wy * dx[j]) / denom
    u = (wx * dy[i] - wy * dx[i]) / denom
    hit = (t > 0) & (t < 1) & (u > 0) & (u < 1)
    if not hit.any():
        return np.zeros(0)
    yy = y0[i][hit] + t[hit] * dy[i][hit]
    return np.round(yy * _INV_SNAP) * SNAP


_SMALL_TRAP_VERTS = 16
# packed two-field winding cumsum is exact while |partial sum| < 2^31;
# the partial sum is bounded by the table length, so past this row count
# the vectorized table falls back to two separate cumsums (ADVICE r7 —
# unreachable at realistic memory sizes, but guarded like every other
# fallback in this file). Module-level so tests can force the fallback.
_PACK_MAX_ROWS = 1 << 30


def _trap_table(a_rings: list[np.ndarray], b_rings: list[np.ndarray]):
    """Shared scanbeam table for one (a, b) pair — the expensive half of
    a boolean op (edge collection, crossing enumeration, beam spans,
    winding cumsums). Returns None when there are no edges, else a tuple
    consumed by ``_traps_from_table``; several ops over the SAME operand
    pair reuse one table (``boolean_op_multi``).

    HYBRID dispatch (the same pattern as ``_stitch``): parcel-sized
    pairs (<= ``_SMALL_TRAP_VERTS`` raw vertices, the dominant case in
    the alignment sweep at ~25 table builds per theme) take a scalar
    scanbeam whose ~15 numpy dispatches would otherwise cost more than
    the arithmetic (measured 73 us vs 206 us on a 4+4-vertex pair,
    crossover ~16-20 vertices); bigger inputs and capsule blocks keep
    the vectorized path. The scalar path is pinned BIT-IDENTICAL to the
    vectorized one (same float expression order, same stable sort keys
    — see test_geom_properties) so the choice is invisible downstream."""
    n_verts = 0
    for rings in (a_rings, b_rings):
        for ring in rings:
            if ring.ndim == 3:  # capsule blocks: vectorized path only
                n_verts = _SMALL_TRAP_VERTS + 1
                break
            n_verts += len(ring)
        if n_verts > _SMALL_TRAP_VERTS:
            break
    if n_verts <= _SMALL_TRAP_VERTS:
        return _trap_table_small(a_rings, b_rings)
    return _trap_table_np(a_rings, b_rings)


def _trap_table_small(a_rings: list[np.ndarray], b_rings: list[np.ndarray]):
    """Scalar scanbeam table for SMALL inputs; value-for-value identical
    to ``_trap_table_np`` — same float expression order for crossings
    and beam x's, same (i, j) role assignment in the bminx-sorted
    crossing sweep, and an explicit edge-major ordinal in the row sort
    key because np.lexsort is STABLE: coincident edges (shared parcel
    borders) must keep their original order or the winding cumsums
    reorder."""
    from bisect import bisect_left

    segs = []  # (x0, y0, x1, y1, tag, dw)
    for rings, tag in ((a_rings, 0), (b_rings, 1)):
        for ring in rings:
            r = snap_ring(ring)
            m = len(r)
            if m < 3:
                continue
            pts = r.tolist()
            prev = pts[0]
            for i in range(m):
                x0, y0 = prev
                prev = pts[(i + 1) % m]
                x1, y1 = prev
                if y0 != y1:
                    segs.append(
                        (x0, y0, x1, y1, tag, 1 if y1 > y0 else -1)
                    )
    if not segs:
        return None
    n = len(segs)
    ymin = [min(s[1], s[3]) for s in segs]
    ymax = [max(s[1], s[3]) for s in segs]
    bxmin = [min(s[0], s[2]) for s in segs]
    bxmax = [max(s[0], s[2]) for s in segs]
    order = sorted(range(n), key=lambda k: bxmin[k])
    ys = set()
    for ii in range(n):
        i = order[ii]
        bx = bxmax[i]
        for jj in range(ii + 1, n):
            j = order[jj]
            if bxmin[j] > bx:
                break
            if ymin[i] > ymax[j] or ymin[j] > ymax[i]:
                continue
            dxi = segs[i][2] - segs[i][0]
            dyi = segs[i][3] - segs[i][1]
            dxj = segs[j][2] - segs[j][0]
            dyj = segs[j][3] - segs[j][1]
            denom = dxi * dyj - dyi * dxj
            if denom == 0:
                continue
            wx = segs[j][0] - segs[i][0]
            wy = segs[j][1] - segs[i][1]
            t = (wx * dyj - wy * dxj) / denom
            u = (wx * dyi - wy * dxi) / denom
            if 0 < t < 1 and 0 < u < 1:
                yy = segs[i][1] + t * dyi
                ys.add(round(yy * _INV_SNAP) * SNAP)
    events = sorted(set(ymin) | set(ymax) | ys)
    if len(events) < 2:
        return None
    rows = []
    for e in range(n):
        x0, y0, x1, y1, tg, dw = segs[e]
        i0 = bisect_left(events, ymin[e])
        i1 = bisect_left(events, ymax[e])
        einv = 1.0 / (y1 - y0)
        edx = x1 - x0
        for b in range(i0, i1):
            xlo = x0 + (events[b] - y0) * einv * edx
            xhi = x0 + (events[b + 1] - y0) * einv * edx
            rows.append(
                (b, 0.5 * (xlo + xhi), xlo, xhi, len(rows), tg, dw)
            )
    if not rows:
        return None
    rows.sort()
    bs_l = []
    xlo_l = []
    xhi_l = []
    ia_l = []
    ib_l = []
    ge_l = []
    wa = wb = 0
    prev_b = -1
    for b, _xm, xlo, xhi, _k, tg, dw in rows:
        if b != prev_b:
            wa = wb = 0
            if bs_l:
                ge_l[-1] = True
            prev_b = b
        if tg == 0:
            wa += dw
        else:
            wb += dw
        bs_l.append(b)
        xlo_l.append(xlo)
        xhi_l.append(xhi)
        ia_l.append(wa != 0)
        ib_l.append(wb != 0)
        ge_l.append(False)
    ge_l[-1] = True
    return (
        np.asarray(events),
        np.asarray(bs_l, dtype=np.int64),
        np.asarray(xlo_l),
        np.asarray(xhi_l),
        np.asarray(ia_l, dtype=bool),
        np.asarray(ib_l, dtype=bool),
        np.asarray(ge_l, dtype=bool),
    )


def _beam_sort(
    bidx: np.ndarray, xm: np.ndarray, xlo: np.ndarray, xhi: np.ndarray
) -> np.ndarray:
    """Argsort of the flat (edge, beam) table by (bidx, xm, xlo, xhi,
    original index) — exactly ``np.lexsort((xhi, xlo, xm, bidx))``, but
    ~3x faster on the big capsule-union tables where that lexsort was
    the single largest cost (np.lexsort pays a slow stable FLOAT
    mergesort per key; a dense-rank + one int64 radix argsort does the
    same ordering in linear-ish time):

    * rank xm densely (one float quicksort — tie order irrelevant for
      ranking), pack (bidx, rank) into one int64, radix-argsort it
      (numpy's stable sort for ints);
    * rows tying on (bidx, xm) — coincident/stacked edges — are then
      repaired with a small lexsort over just the tied runs, keeping
      (xlo, xhi, original index) order. Radix stability preserves
      original index order inside runs, so the repair reproduces the
      full lexsort bit-for-bit.

    Falls back to np.lexsort when the packed key would overflow int64
    (beams * distinct-xm >= 2^63 — never at sane table sizes)."""
    n = len(bidx)
    if n <= 1:
        return np.arange(n)
    o = np.argsort(xm)  # quicksort: only the VALUE groups matter
    sv = xm[o]
    new = np.empty(n, dtype=bool)
    new[0] = True
    new[1:] = sv[1:] != sv[:-1]
    rank = np.empty(n, dtype=np.int64)
    rank[o] = np.cumsum(new) - 1
    nlev = int(rank[o[-1]]) + 1
    nb = int(bidx.max()) + 1
    if nb > (2**63 - 1) // max(nlev, 1):
        return np.lexsort((xhi, xlo, xm, bidx))
    comp = bidx * nlev + rank
    if nb * nlev < 2**31:  # half the radix passes when the key fits
        comp = comp.astype(np.int32)
    order = np.argsort(comp, kind="stable")  # radix for ints
    cs = comp[order]
    tie = cs[1:] == cs[:-1]
    if tie.any():
        in_run = np.empty(n, dtype=bool)
        in_run[0] = False
        in_run[1:] = tie
        in_run[:-1] |= tie
        ti = np.flatnonzero(in_run)
        run_id = np.cumsum(~np.concatenate(([True], tie)))[ti]
        sub = order[ti]
        so = np.lexsort((xhi[sub], xlo[sub], run_id))
        order[ti] = sub[so]
    return order


def _trap_table_np(a_rings: list[np.ndarray], b_rings: list[np.ndarray]):
    """Vectorized scanbeam table (the original path; see _trap_table)."""
    segs: list = []
    tags: list = []
    _collect_edges(a_rings, 0, segs, tags)
    _collect_edges(b_rings, 1, segs, tags)
    if not segs:
        return None
    E = np.vstack(segs)
    tag = np.concatenate(tags)
    x0 = E[:, 0]; y0 = E[:, 1]; x1 = E[:, 2]; y1 = E[:, 3]
    dw = np.where(y1 > y0, 1, -1).astype(np.int64)
    ymin = np.minimum(y0, y1)
    ymax = np.maximum(y0, y1)

    events = np.unique(np.concatenate([ymin, ymax, _intersection_ys(E)]))
    if len(events) < 2:
        return None

    # --- flat (edge, beam) table -----------------------------------------
    i0 = np.searchsorted(events, ymin)  # endpoints are events: exact hits
    i1 = np.searchsorted(events, ymax)
    cnt = i1 - i0
    total = int(cnt.sum())
    if total == 0:
        return None
    eidx = np.repeat(np.arange(len(E)), cnt)
    cum = np.concatenate(([0], np.cumsum(cnt)))
    bidx = np.repeat(i0, cnt) + (np.arange(total) - np.repeat(cum[:-1], cnt))

    ylo = events[bidx]
    yhi = events[bidx + 1]
    ex0 = x0[eidx]; edx = (x1 - x0)[eidx]
    einv = (1.0 / (y1 - y0))[eidx]
    ey0 = y0[eidx]
    xlo = ex0 + (ylo - ey0) * einv * edx
    xhi = ex0 + (yhi - ey0) * einv * edx
    xm = 0.5 * (xlo + xhi)

    order = _beam_sort(bidx, xm, xlo, xhi)
    bs = bidx[order]; xlo_s = xlo[order]; xhi_s = xhi[order]
    eo = eidx[order]
    te = tag[eo]; de = dw[eo]

    # --- segmented winding cumsums ----------------------------------------
    # both winding counts ride ONE cumsum: operand-a deltas in the low
    # field, operand-b shifted past any possible |partial sum| (<= total
    # edges < 2^30), so the fields never interfere — exact int math,
    # identical to two separate cumsums
    new_grp = np.empty(total, dtype=bool)
    new_grp[0] = True
    new_grp[1:] = bs[1:] != bs[:-1]
    grp_id = np.cumsum(new_grp) - 1
    if total < _PACK_MAX_ROWS:
        SHIFT = np.int64(1) << 32
        dwc = np.where(te == 0, de, de * SHIFT)
        wc = np.cumsum(dwc)
        rel = wc - (wc[new_grp] - dwc[new_grp])[grp_id]
        # decompose: b = round(rel / 2^32) once |a| < 2^31 (nearest multiple)
        relb = (rel + (SHIFT >> 1)) >> 32
        ins_b = relb != 0
        ins_a = (rel - relb * SHIFT) != 0
    else:
        # explicit guard (ADVICE r7): |partial winding sum| is bounded by
        # the table length, so past 2^30 entries the packed low field
        # could bleed into the high one — fall back to two separate
        # cumsums, matching the fallback discipline of _beam_sort and the
        # weld/chain span checks (unreachable at realistic memory sizes)
        da = np.where(te == 0, de, np.int64(0))
        db = np.where(te == 0, np.int64(0), de)
        wa = np.cumsum(da)
        wb = np.cumsum(db)
        ins_a = (wa - (wa[new_grp] - da[new_grp])[grp_id]) != 0
        ins_b = (wb - (wb[new_grp] - db[new_grp])[grp_id]) != 0
    grp_end = np.empty(total, dtype=bool)
    grp_end[:-1] = new_grp[1:]
    grp_end[-1] = True
    return events, bs, xlo_s, xhi_s, ins_a, ins_b, grp_end


def _traps_from_table(tbl, op: str) -> np.ndarray:
    """Extract ``op``'s trapezoids from a ``_trap_table`` result —
    boolean run detection only, no edge work."""
    if tbl is None:
        return np.zeros((0, 6))
    events, bs, xlo_s, xhi_s, ins_a, ins_b, grp_end = tbl
    total = len(bs)
    inside = _OPS[op](ins_a, ins_b)
    inside &= ~grp_end  # region right of a beam's last edge is outside

    # --- maximal inside runs -> trapezoids ---------------------------------
    prev = np.empty(total, dtype=bool)
    prev[0] = False
    prev[1:] = inside[:-1]
    nxt = np.empty(total, dtype=bool)
    nxt[:-1] = inside[1:]
    nxt[-1] = False
    si = np.nonzero(inside & ~prev)[0]
    ei = np.nonzero(inside & ~nxt)[0]
    if not len(si):
        return np.zeros((0, 6))
    l_lo = xlo_s[si]; l_hi = xhi_s[si]
    r_lo = xlo_s[ei + 1]; r_hi = xhi_s[ei + 1]
    t_ylo = events[bs[si]]; t_yhi = events[bs[si] + 1]
    area = 0.5 * ((r_lo - l_lo) + (r_hi - l_hi)) * (t_yhi - t_ylo)
    keep = area > 0  # keep slivers: stitch continuity needs them
    return np.column_stack(
        [t_ylo[keep], t_yhi[keep], l_lo[keep], r_lo[keep], l_hi[keep], r_hi[keep]]
    )


def _trapezoids(
    a_rings: list[np.ndarray], b_rings: list[np.ndarray], op: str
) -> np.ndarray:
    """Decompose ``op(a, b)`` into trapezoids.

    Returns an (n, 6) float array of rows (ylo, yhi, xl_lo, xr_lo,
    xl_hi, xr_hi): the inside region between y=ylo and y=yhi bounded
    left by segment (xl_lo,ylo)-(xl_hi,yhi) and right by
    (xr_lo,ylo)-(xr_hi,yhi).

    Fully vectorized across scanbeams: every (edge x spanned-beam) pair
    becomes one row of a flat table, winding numbers are segmented
    cumsums over beam groups, and trapezoid extraction is boolean run
    detection — no per-beam Python loop (the geometry kernel's hot path
    runs 32-way inside pandas UDF workers, where allocation churn is
    the scaling limiter).
    """
    return _traps_from_table(_trap_table(a_rings, b_rings), op)


def trapezoid_area(traps) -> float:
    t = np.asarray(traps, dtype=np.float64)
    if t.size == 0:
        return 0.0
    if t.ndim == 1:
        t = t[None, :]
    return float(
        (0.5 * ((t[:, 3] - t[:, 2]) + (t[:, 5] - t[:, 4])) * (t[:, 1] - t[:, 0])).sum()
    )


def _stitch(traps) -> list[np.ndarray]:
    """Merge trapezoids into orientation-encoded rings (CCW outer, CW hole).

    Stage 1 (O(n_traps), the kernel hot path) is fully vectorized:
    horizontal interval cancellation and directed-side annihilation run
    as lexsort + reduceat group sums instead of per-trapezoid dict
    updates. Stages 2-3 (junction weld + ring chaining) stay in Python —
    they see only the surviving boundary segments, which is orders of
    magnitude smaller than the trapezoid count."""
    traps = np.asarray(traps, dtype=np.float64)
    if traps.size == 0:
        return []
    if traps.ndim == 1:
        traps = traps[None, :]

    K = np.round(traps * _INV_SNAP).astype(np.int64)
    if len(K) < 96:
        raw = _stitch_events_small(K)
    else:
        raw = _stitch_events_vec(K)
    return _weld_and_chain(raw)


def _stitch_events_small(K) -> list:
    """Dict-based event extraction — faster than numpy group-sums below
    ~10² trapezoids (the common case: one parcel-sized boolean op)."""
    from collections import defaultdict

    deltas: dict[int, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    side_count: dict[tuple, int] = defaultdict(int)

    def add_side(p, q):
        if side_count[(q, p)] > 0:
            side_count[(q, p)] -= 1
        else:
            side_count[(p, q)] += 1

    for kylo, kyhi, kl_lo, kr_lo, kl_hi, kr_hi in K:
        kylo = int(kylo); kyhi = int(kyhi)
        kl_lo = int(kl_lo); kr_lo = int(kr_lo)
        kl_hi = int(kl_hi); kr_hi = int(kr_hi)
        if kl_lo == kr_lo and kl_hi == kr_hi:
            continue  # zero width at snap resolution — nothing to bound
        # a snapped crossing y can leave l > r at an edge: its horizontal
        # still closes the chain, and the level sign gives its direction
        if kl_lo != kr_lo:
            deltas[kylo][kl_lo] += 1
            deltas[kylo][kr_lo] -= 1
        if kl_hi != kr_hi:
            deltas[kyhi][kl_hi] -= 1
            deltas[kyhi][kr_hi] += 1
        # sides: left goes down (top->bottom), right goes up (CCW interior left)
        if (kl_hi, kyhi) != (kl_lo, kylo):
            add_side((kl_hi, kyhi), (kl_lo, kylo))
        if (kr_lo, kylo) != (kr_hi, kyhi):
            add_side((kr_lo, kylo), (kr_hi, kyhi))

    raw: list[tuple[tuple[int, int], tuple[int, int]]] = []
    for (p, q), cnt in side_count.items():
        raw.extend([(p, q)] * cnt)

    for ky, dd in deltas.items():
        xs = sorted(dd)
        level = 0
        prev = None
        for x in xs:
            if prev is not None and level != 0 and x > prev:
                if level > 0:  # net bottom boundary -> rightward
                    raw.append(((prev, ky), (x, ky)))
                else:  # net top boundary -> leftward
                    raw.append(((x, ky), (prev, ky)))
            level += dd[x]
            prev = x
    return raw


def _stitch_events_vec(K) -> np.ndarray:
    """Vectorized event extraction for LARGE trapezoid tables (dense
    urban unions, capsule-buffer unions): horizontal interval
    cancellation and directed-side annihilation as lexsort + reduceat
    group sums — O(n log n) numpy instead of per-trapezoid dict ops.

    Returns an (n, 4) int64 array of rows [px, py, qx, qy] in the SAME
    emission order this function produced as a tuple list (horizontal
    rows first, then directed sides in canonical-sort order with |net|
    copies contiguous) — the weld consumes the array directly, so no
    per-event tuples are built on the hot path."""
    kylo, kyhi = K[:, 0], K[:, 1]
    kl_lo, kr_lo, kl_hi, kr_hi = K[:, 2], K[:, 3], K[:, 4], K[:, 5]
    keep = ~((kl_lo == kr_lo) & (kl_hi == kr_hi))  # zero width at snap res
    kylo, kyhi = kylo[keep], kyhi[keep]
    kl_lo, kr_lo, kl_hi, kr_hi = (
        kl_lo[keep], kr_lo[keep], kl_hi[keep], kr_hi[keep]
    )

    chunks: list[np.ndarray] = []  # (k, 4) int64 rows [px, py, qx, qy]

    # --- horizontal interval cancellation per y ---------------------------
    # bottom of a trapezoid: interior above => rightward (+1)
    # top: interior below => leftward (-1); overlaps cancel.
    # l > r (a snapped crossing y) still bounds: the level sign orients it
    b = kl_lo != kr_lo
    t = kl_hi != kr_hi
    nb, nt = int(b.sum()), int(t.sum())
    if nb + nt:
        ev_y = np.concatenate([kylo[b], kylo[b], kyhi[t], kyhi[t]])
        ev_x = np.concatenate([kl_lo[b], kr_lo[b], kl_hi[t], kr_hi[t]])
        ev_d = np.concatenate(
            [
                np.ones(nb, np.int64),
                -np.ones(nb, np.int64),
                -np.ones(nt, np.int64),
                np.ones(nt, np.int64),
            ]
        )
        order = np.lexsort((ev_x, ev_y))
        ys, xs, ds = ev_y[order], ev_x[order], ev_d[order]
        new = np.empty(len(ys), bool)
        new[0] = True
        new[1:] = (ys[1:] != ys[:-1]) | (xs[1:] != xs[:-1])
        starts = np.flatnonzero(new)
        gy, gx = ys[starts], xs[starts]
        gd = np.add.reduceat(ds, starts)
        rowstart = np.empty(len(gy), bool)
        rowstart[0] = True
        rowstart[1:] = gy[1:] != gy[:-1]
        first = np.flatnonzero(rowstart)
        counts = np.diff(np.append(first, len(gy)))
        cs = np.cumsum(gd)
        row_base = cs[first] - gd[first]  # cumsum before the row began
        level = cs - np.repeat(row_base, counts)  # level AFTER gd[i]
        rowlast = np.append(rowstart[1:], True)
        m = (~rowlast) & (level != 0)
        mi = np.flatnonzero(m)
        if len(mi):
            # net bottom boundary (level>0) -> rightward, top -> leftward
            pos = level[mi] > 0
            hx0 = np.where(pos, gx[mi], gx[mi + 1])
            hx1 = np.where(pos, gx[mi + 1], gx[mi])
            hy = gy[mi]
            chunks.append(np.column_stack([hx0, hy, hx1, hy]))

    # --- directed side segments with cancellation --------------------------
    # a segment and its exact reverse (a shared internal edge, e.g. two
    # parcels in the same scanbeam meeting at x) annihilate; net signed
    # count per canonical (lexicographically ordered) pair is equivalent
    # to the sequential cancel-or-add loop.
    # left side goes down (top->bottom), right side up (CCW interior left)
    px = np.concatenate([kl_hi, kr_lo])
    py = np.concatenate([kyhi, kylo])
    qx = np.concatenate([kl_lo, kr_hi])
    qy = np.concatenate([kylo, kyhi])
    nz = ~((px == qx) & (py == qy))
    px, py, qx, qy = px[nz], py[nz], qx[nz], qy[nz]
    if len(px):
        swap = (qx < px) | ((qx == px) & (qy < py))
        ax = np.where(swap, qx, px)
        ay = np.where(swap, qy, py)
        bx = np.where(swap, px, qx)
        by = np.where(swap, py, qy)
        sgn = np.where(swap, -1, 1).astype(np.int64)
        order = np.lexsort((by, bx, ay, ax))
        ax, ay, bx, by, sgn = (
            ax[order], ay[order], bx[order], by[order], sgn[order]
        )
        new = np.empty(len(ax), bool)
        new[0] = True
        new[1:] = (
            (ax[1:] != ax[:-1]) | (ay[1:] != ay[:-1])
            | (bx[1:] != bx[:-1]) | (by[1:] != by[:-1])
        )
        starts = np.flatnonzero(new)
        net = np.add.reduceat(sgn, starts)
        nz = net != 0
        if nz.any():
            js = starts[nz]
            s = net[nz]
            neg = (s < 0)[:, None]
            p = np.column_stack([ax[js], ay[js]])
            q = np.column_stack([bx[js], by[js]])
            rows = np.concatenate(
                [np.where(neg, q, p), np.where(neg, p, q)], axis=1
            )
            # emission order matches the sequential loop: canonical-sort
            # order, |net| copies contiguous per key (np.repeat)
            chunks.append(np.repeat(rows, np.abs(s), axis=0))
    if not chunks:
        return np.zeros((0, 4), dtype=np.int64)
    return np.concatenate(chunks) if len(chunks) > 1 else chunks[0]


_WELD_VEC_MIN = 192  # raw segs; below, the dict weld beats numpy overhead


def _weld_segments_small(raw: list) -> list:
    """Sequential dict-based weld — faster than the vectorized one below
    ~200 raw segments (the common parcel-sized case: numpy's fixed
    dispatch plus np.unique's void-view sort dominate tiny inputs)."""
    from collections import defaultdict

    nodes_by_y: dict[int, list[int]] = {}
    for p, q in raw:
        nodes_by_y.setdefault(p[1], []).append(p[0])
        nodes_by_y.setdefault(q[1], []).append(q[0])
    remap: dict[tuple[int, int], tuple[int, int]] = {}
    for ky, xs_list in nodes_by_y.items():
        xs_sorted = sorted(set(xs_list))
        group_rep = xs_sorted[0] if xs_sorted else 0
        for i, x in enumerate(xs_sorted):
            if i > 0 and x - xs_sorted[i - 1] > _WELD:
                group_rep = x
            remap[(x, ky)] = (group_rep, ky)

    merged: dict[tuple[tuple[int, int], tuple[int, int]], int] = defaultdict(int)
    for p, q in raw:
        p2, q2 = remap[p], remap[q]
        if p2 == q2:
            continue  # collapsed sliver
        if merged[(q2, p2)] > 0:
            merged[(q2, p2)] -= 1
        else:
            merged[(p2, q2)] += 1
    segs: list[tuple[tuple[int, int], tuple[int, int]]] = []
    for (p, q), cnt in merged.items():
        segs.extend([(p, q)] * cnt)
    return segs


def _weld_segments_vec(raw) -> np.ndarray:
    """Vectorized weld for LARGE event streams (capsule-block unions).
    Accepts a tuple list or an (n, 4) int64 array; returns (m, 4) int64
    rows. Reproduces ``_weld_segments_small`` EXACTLY (seg values AND
    order — pinned by test_weld_and_chain_matches_reference):

    * node merge: endpoints sort by (y, x); a run breaks where the gap
      to the previous distinct x exceeds _WELD (the chain rule — gap
      from the previous x, not from the run's representative; duplicate
      xs have gap 0 and never break, so scanning with duplicates inline
      is equivalent);
    * cancellation: the sequential pass keeps, per undirected pair, the
      signed net count on the net-sign direction, and dict insertion
      puts BOTH directed keys of a pair in at the pair's first
      occurrence (the probe of the reverse key inserts it, and the
      increment branch fires exactly when the pair is new) — so
      emission order is pair-first-occurrence order with the net-sign
      direction: one unique + argsort.
    """
    A = np.asarray(raw, dtype=np.int64)  # (n, 4) or legacy (n, 2, 2)
    pts = A.reshape(-1, 2)
    order = np.lexsort((pts[:, 0], pts[:, 1]))  # by y, then x
    sp = pts[order]
    newgrp = np.empty(len(sp), dtype=bool)
    newgrp[0] = True
    newgrp[1:] = (sp[1:, 1] != sp[:-1, 1]) | (sp[1:, 0] - sp[:-1, 0] > _WELD)
    grp_start = np.maximum.accumulate(np.where(newgrp, np.arange(len(sp)), 0))
    welded = np.empty_like(pts)
    welded[order] = sp[grp_start]
    P = welded[0::2]
    Q = welded[1::2]

    keep = (P[:, 0] != Q[:, 0]) | (P[:, 1] != Q[:, 1])  # collapsed slivers out
    P = P[keep]
    Q = Q[keep]
    if not len(P):
        return np.zeros((0, 4), dtype=np.int64)
    swap = (P[:, 0] > Q[:, 0]) | ((P[:, 0] == Q[:, 0]) & (P[:, 1] > Q[:, 1]))
    lo = np.where(swap[:, None], Q, P)
    hi = np.where(swap[:, None], P, Q)
    # group canonical pairs by packed-int64 endpoint keys (two radix
    # lexsort passes + reduceat) instead of np.unique over 32-byte void
    # records; group CONTENT and first-occurrence order are what matter,
    # and both are preserved (first_idx = min original index per group,
    # the same thing np.unique(return_index) yields)
    nmin = np.minimum(lo.min(axis=0), hi.min(axis=0))
    span = np.maximum(lo.max(axis=0), hi.max(axis=0)) - nmin
    if span[0] < 2**31 and span[1] < 2**31:
        HI = np.int64(1) << 32
        kp = (lo[:, 0] - nmin[0]) * HI + (lo[:, 1] - nmin[1])
        kq = (hi[:, 0] - nmin[0]) * HI + (hi[:, 1] - nmin[1])
        gorder = np.lexsort((kq, kp))
        kps, kqs = kp[gorder], kq[gorder]
        newg = np.empty(len(gorder), dtype=bool)
        newg[0] = True
        newg[1:] = (kps[1:] != kps[:-1]) | (kqs[1:] != kqs[:-1])
        starts = np.flatnonzero(newg)
        net = np.add.reduceat(np.where(swap, -1, 1)[gorder], starts)
        first_idx = np.minimum.reduceat(gorder, starts)
        rep = gorder[starts]  # any member carries the canonical key
        uk = np.concatenate([lo[rep], hi[rep]], axis=1)
    else:  # geometry wider than 2^31 snap units (~2 km): void path
        key = np.concatenate([lo, hi], axis=1)  # canonical (m, 4)
        uk, first_idx, inv = np.unique(
            key, axis=0, return_index=True, return_inverse=True
        )
        net = np.zeros(len(uk), dtype=np.int64)
        np.add.at(net, inv, np.where(swap, -1, 1))
    # emission in pair-first-occurrence order, |net| copies each, flipped
    # to the net-sign direction — vectorized twin of the tuple loop
    order2 = np.argsort(first_idx, kind="stable")
    net_o = net[order2]
    nz = net_o != 0
    if not nz.any():
        return np.zeros((0, 4), dtype=np.int64)
    ks = order2[nz]
    s = net_o[nz]
    neg = (s < 0)[:, None]
    fwd = uk[ks]
    rev = np.concatenate([uk[ks, 2:], uk[ks, :2]], axis=1)
    rows = np.where(neg, rev, fwd)
    return np.repeat(rows, np.abs(s), axis=0)


def _weld_and_chain(raw) -> list[np.ndarray]:
    """Stages 2-3 of _stitch: junction weld + ring chaining. HYBRID weld
    (same pattern as ``_stitch`` / ``_trap_table``): dict pass below
    ~200 segments, vectorized above — both produce identical segs, so
    the choice is invisible downstream. ``raw`` is a tuple list (small
    event path) or an (n, 4) int64 array (vectorized event path); the
    large route stays arrays end-to-end (_weld_segments_vec →
    _chain_arr) so no per-segment tuples are built."""
    if not len(raw):
        return []
    if len(raw) >= _WELD_VEC_MIN:
        return _chain_arr(_weld_segments_vec(raw))
    if isinstance(raw, np.ndarray):
        raw = [
            ((int(a), int(b)), (int(c), int(d))) for a, b, c, d in raw.tolist()
        ]
    return _chain_list(_weld_segments_small(raw))


def _chain_arr(S: np.ndarray) -> list[np.ndarray]:
    """Ring chaining over welded (m, 4) int64 seg rows. Nodes compress
    to dense ids via one unique pass; the degree-1 walk (no node emits
    twice — the overwhelmingly common case) is successor-array lookups
    over Python ints. Junction streams fall back to the tuple-based
    general path — bit-identical either way (the equivalence test runs
    both)."""
    m = len(S)
    if m == 0:
        return []
    nodes = S.reshape(-1, 2)
    # packed 1-D unique instead of np.unique(axis=0): the void-record
    # sort memcmps 16-byte rows; one int64 radix-ish sort is ~4x faster.
    # Only node GROUPING matters (ids are internal), so the different
    # unique order is invisible — ring output gathers raw coordinates.
    nmin = nodes.min(axis=0)
    span = nodes.max(axis=0) - nmin
    if span[0] < 2**31 and span[1] < 2**31:
        packed = (nodes[:, 0] - nmin[0]) * (np.int64(1) << 32) + (
            nodes[:, 1] - nmin[1]
        )
        pu, inv = np.unique(packed, return_inverse=True)
        uniq = np.column_stack([pu >> 32, pu & np.int64(0xFFFFFFFF)]) + nmin
    else:  # geometry wider than 2^31 snap units (~2 km): void path
        uniq, inv = np.unique(nodes, axis=0, return_inverse=True)
    pid = inv[0::2]
    qid = inv[1::2]
    counts = np.bincount(pid, minlength=len(uniq))
    if (counts > 1).any():  # a junction node: general leftmost-turn walk
        return _chain_list(
            [((int(a), int(b)), (int(c), int(d))) for a, b, c, d in S.tolist()]
        )
    succ = np.full(len(uniq), -1, dtype=np.int64)
    succ[pid] = np.arange(m)
    coords = uniq.astype(np.float64) * SNAP
    succ_l = succ.tolist()
    pid_l = pid.tolist()
    qid_l = qid.tolist()
    used = [False] * m
    rings: list[np.ndarray] = []
    for start in range(m):
        if used[start]:
            continue
        used[start] = True
        p0 = pid_l[start]
        cur = qid_l[start]
        seglist = [start]
        while cur != p0:
            nxt = succ_l[cur]
            if nxt < 0 or used[nxt]:
                break
            used[nxt] = True
            seglist.append(nxt)
            cur = qid_l[nxt]
        if cur == p0 and len(seglist) >= 3:
            ring = coords[[p0] + [qid_l[s] for s in seglist[:-1]]]
            ring = _merge_collinear(ring)
            if len(ring) >= 3 and abs(ring_area(ring)) > _MIN_AREA:
                rings.append(ring)
    return rings


def _chain_list(segs: list) -> list[np.ndarray]:
    """Ring chaining over welded tuple-pair segs (small streams and
    junction fallbacks)."""
    # --- chain directed segments into rings -------------------------------
    # degree-1 fast path: no node emits twice (the overwhelmingly common
    # case — simple rings, no junctions), so the walk is a plain
    # successor lookup; behavior is identical to the general path below
    # when every candidate list has at most one entry.
    out_single: dict[tuple[int, int], int] = {}
    multi_out = False
    for si, (p, q) in enumerate(segs):
        if p in out_single:
            multi_out = True
            break
        out_single[p] = si
    if not multi_out:
        used1 = [False] * len(segs)
        rings1: list[np.ndarray] = []
        for start in range(len(segs)):
            if used1[start]:
                continue
            p0, cur = segs[start]
            path = [p0, cur]
            used1[start] = True
            guard = 0
            while cur != p0 and guard < len(segs) + 2:
                guard += 1
                nxt = out_single.get(cur)
                if nxt is None or used1[nxt]:
                    break
                used1[nxt] = True
                cur = segs[nxt][1]
                path.append(cur)
            if cur == p0 and len(path) > 3:
                ring = np.asarray(path[:-1], dtype=np.float64) * SNAP
                ring = _merge_collinear(ring)
                if len(ring) >= 3 and abs(ring_area(ring)) > _MIN_AREA:
                    rings1.append(ring)
        return rings1

    from collections import defaultdict

    out_map: dict[tuple[int, int], list[int]] = defaultdict(list)
    for si, (p, q) in enumerate(segs):
        out_map[p].append(si)
    used = [False] * len(segs)
    rings: list[np.ndarray] = []

    for start in range(len(segs)):
        if used[start]:
            continue
        path = [segs[start][0], segs[start][1]]
        used[start] = True
        cur = segs[start][1]
        prev_pt = segs[start][0]
        guard = 0
        while cur != path[0] and guard < len(segs) + 2:
            guard += 1
            cands = [i for i in out_map.get(cur, []) if not used[i]]
            if not cands:
                break
            if len(cands) == 1:
                nxt = cands[0]
            else:
                # leftmost turn relative to incoming direction => simple
                # rings; never U-turn back along the incoming segment
                # unless it is the only way out.
                vin = (cur[0] - prev_pt[0], cur[1] - prev_pt[1])
                fwd = [i for i in cands if segs[i][1] != prev_pt]
                pool = fwd or cands
                nxt = max(
                    pool,
                    key=lambda i: _turn_angle(vin, (segs[i][1][0] - cur[0], segs[i][1][1] - cur[1])),
                )
            used[nxt] = True
            prev_pt = cur
            cur = segs[nxt][1]
            path.append(cur)
        if cur == path[0] and len(path) > 3:
            ring = np.asarray(path[:-1], dtype=np.float64) * SNAP
            ring = _merge_collinear(ring)
            if len(ring) >= 3 and abs(ring_area(ring)) > _MIN_AREA:
                rings.append(ring)
    return rings


def _turn_angle(vin, vout) -> float:
    """Angle of the left turn from vin to vout in (-pi, pi]; larger = more left."""
    import math

    a = math.atan2(
        vin[0] * vout[1] - vin[1] * vout[0], vin[0] * vout[0] + vin[1] * vout[1]
    )
    return a


def _merge_collinear(ring: np.ndarray) -> np.ndarray:
    n = len(ring)
    if n < 3:
        return ring
    if n <= 32:  # scalar path: np dispatch overhead beats it on tiny rings
        keep = []
        for i in range(n):
            p = ring[(i - 1) % n]
            q = ring[i]
            r = ring[(i + 1) % n]
            cross = (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])
            if abs(cross) > SNAP * SNAP * 0.25:
                keep.append(i)
        return ring[keep] if keep else ring[:0]
    p = np.concatenate((ring[-1:], ring[:-1]))
    r = np.concatenate((ring[1:], ring[:1]))
    cross = (ring[:, 0] - p[:, 0]) * (r[:, 1] - p[:, 1]) - (
        ring[:, 1] - p[:, 1]
    ) * (r[:, 0] - p[:, 0])
    keep = np.abs(cross) > SNAP * SNAP * 0.25
    return ring[keep] if keep.any() else ring[:0]


def boolean_op(
    a_rings: list[np.ndarray], b_rings: list[np.ndarray], op: str
) -> list[np.ndarray]:
    """``op(a, b)`` for op in union/intersection/difference/symdiff.

    Inputs and outputs are orientation-encoded ring sets (nonzero
    winding). Output rings are disjoint and properly nested (CCW outers,
    CW holes), i.e. a valid multipolygon.
    """
    if op not in _OPS:
        raise ValueError(f"unknown op {op!r}")
    if not a_rings and not b_rings:
        return []
    if not b_rings and op in ("intersection",):
        return []
    if not a_rings and op in ("intersection", "difference"):
        return []
    return _stitch_op(_trap_table(a_rings, b_rings), op)


def _stitch_op(tbl, op: str) -> list[np.ndarray]:
    """``op``'s rings from a ``_trap_table`` result. A symdiff is the
    stitched A−B plus the stitched B−A: the two touch at crossings, and
    one stitch over both welds them there into rings that lose area."""
    if op == "symdiff":
        return _stitch_op(tbl, "difference") + _stitch_op(tbl, "rdifference")
    return _stitch(_traps_from_table(tbl, op))


def boolean_op_multi(
    a_rings: list[np.ndarray], b_rings: list[np.ndarray], ops: tuple[str, ...]
) -> list[list[np.ndarray]]:
    """Several boolean ops over the SAME operand pair from ONE scanbeam
    table — edge collection, crossing enumeration and winding cumsums
    (the expensive ~60% of a pass) run once; each op adds only run
    extraction + stitching. The alignment kernel uses this for
    intersection+uncovered per candidate pair and for the dplus/dmin
    pair per result."""
    for op in ops:
        if op not in _OPS:
            raise ValueError(f"unknown op {op!r}")
    if not a_rings and not b_rings:
        return [[] for _ in ops]
    tbl = _trap_table(a_rings, b_rings)
    return [_stitch_op(tbl, op) for op in ops]


def normalize(rings: list[np.ndarray]) -> list[np.ndarray]:
    """make_valid analogue: rebuild per nonzero winding, fixing
    self-intersections, duplicate points and bad orientations
    (reference: plugin/brdrq/brdrq_utils.py:448-479, 1536-1547)."""
    return boolean_op(rings, [], "union")


def area_of_op(
    a_rings: list[np.ndarray], b_rings: list[np.ndarray], op: str
) -> float:
    """Area of ``op(a, b)`` without boundary extraction (fast path for
    erosion tests and diff-area metrics)."""
    return trapezoid_area(_trapezoids(a_rings, b_rings, op))
