"""Buffer / erosion / morphological opening.

dilate(P, d)  = P ∪ capsules(boundary(P), d)   (traced as offset rings)
erode(P, d)   = P \\ capsules(boundary(P), d)
open(P, d)    = dilate(erode(P, d), d)      — drops slivers thinner than 2d

where capsules(boundary, d) is the union of one rectangle per boundary
segment (width 2d) and one regular N-gon disk per vertex — the Minkowski
sum of the boundary with a discretized disk. Round joins mirror the
reference's buffer (10 arc segments per quarter circle,
plugin/brdrq/brdrq_utils.py:1569-1590); the functions here default to
32 segments per full circle, but the alignment kernel passes
``AlignConfig.nseg = 8``: its disks are 8-gons, and that discretization,
not the envelope below, sets the distance to a true-disk dilation.

Erosion unions the capsules. Dilation traces the same region as one
raw offset ring per ring of an envelope of its input (``offset_rings``,
the Vatti/Clipper offsetting construction; Guibas–Ramshaw–Stolfi and
Wein's convolution method), ~3-5 vertices per input vertex instead of
the ~12 of a rectangle and an 8-gon. As a chain, the offset ring is the
sum of the envelope's boundary, the outer half of every edge rectangle
and, at every left turn, the sector of the vertex's N-gon between the
two edge normals: the edges they share cancel, so under nonzero winding
the ring fills the envelope, the outer half-rectangles and the sectors,
with every winding number non-negative. The rest of the capsules
(inner half-rectangles, right-turn N-gons, left-turn N-gons outside
their sectors) falls inside those pieces, except next to an edge
shorter than ``d*sin(pi/N)``, whose end's N-gon reaches past the next
vertex's sector: there ``offset_rings`` adds that left turn's whole
N-gon. The two constructions then agree up to snap rounding (measured
≤ 1.6e-5 m² per call on the kernel's footprint dilations; ≤ 1e-4 m²
pinned in tests/test_geom_properties.py).

The envelope has two steps. Pixel-traced footprints carry a vertex
every 0.3-0.45 m, and a construction per vertex made the partial-branch
grow the kernel's dominant cost:

* ``fill_pockets`` drops each right-turn vertex whose neighbours are at
  most ``L <= d*sqrt(0.4)`` apart (a superset of the input). Filling a
  pocket with mouth L widens a d-dilation by at most
  ``d - sqrt(d^2 - L^2/4)`` ≈ ``L^2/8d <= d/20``: the two mouth
  vertices' disks already reach that far past the chord;
* ``simplify_rings`` at d/20, the tolerance the output is simplified at.

So an envelope dilation stays within ~3d/20 of one with capsules on
every vertex: ``old(0.85d) ⊆ new(d) ⊆ old(1.15d)`` and
``input ⊆ new(d)``, pinned in tests/test_geom_properties.py.

The brdr relevance test — is ``buffer(intersection, -rd/2)`` empty? —
(observable contract, docs/autocorrectborders.md:80-84) maps to
``erode_area(I, rd/2) > 0``.
"""

from __future__ import annotations

import numpy as np

from brdrq_spark.geom.clip import area_of_op, boolean_op, _trapezoids, trapezoid_area
from brdrq_spark.geom.simplify import simplify_rings


_UNIT_DISKS: dict[int, np.ndarray] = {}


def _unit_disk(nseg: int) -> np.ndarray:
    disk = _UNIT_DISKS.get(nseg)
    if disk is None:
        ang = np.linspace(0.0, 2.0 * np.pi, nseg, endpoint=False)
        disk = np.column_stack([np.cos(ang), np.sin(ang)])
        _UNIT_DISKS[nseg] = disk
    return disk


def boundary_capsules(
    rings: list[np.ndarray], d: float, nseg: int = 32, joins: str = "all"
) -> list[np.ndarray]:
    """Ring blocks whose union is the d-neighborhood of the boundary.

    Vectorized per ring: one (n, 4, 2) block of edge rectangles (CCW)
    and one (n, nseg, 2) block of vertex disks — the boolean engine's
    edge collector consumes blocks without per-capsule Python.

    ``joins`` prunes vertex disks by which side of the boundary must be
    covered (polygon interior is left of travel for CCW outers AND CW
    holes alike):

    * "interior" (erosion): a convex corner's inside wedge is already
      covered by its two edge rectangles — disks only at right-turn
      (reflex-to-interior) vertices;
    * "all": both (boundary-neighborhood semantics).

    Pruning is exact up to scanbeam snap rounding (measured area deltas
    vs joins="all" ≲1e-4 m² on star polygons; near the _TINY decision
    threshold the two variants agree to ~1e-16, so relevance decisions
    don't flip), and capsule edge counts
    drop ~(4+nseg)/4 per vertex on convex-dominated parcel data — the
    erosion relevance tests are the alignment kernel's hot path.
    """
    from brdrq_spark.geom.core import rot1

    caps: list[np.ndarray] = []
    if d <= 0:
        return caps
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        n = len(r)
        if n < 2:
            continue
        r2 = rot1(r)
        dx = r2[:, 0] - r[:, 0]
        dy = r2[:, 1] - r[:, 1]
        ln = np.hypot(dx, dy)
        ok = ln > 0
        inv = np.where(ok, 1.0 / np.where(ok, ln, 1.0), 0.0)
        nx = -dy * inv * d
        ny = dx * inv * d
        # rectangle per edge, oriented CCW for left-of-travel normals
        rect = np.empty((n, 4, 2))
        rect[:, 0, 0] = r[:, 0] + nx;  rect[:, 0, 1] = r[:, 1] + ny
        rect[:, 1, 0] = r2[:, 0] + nx; rect[:, 1, 1] = r2[:, 1] + ny
        rect[:, 2, 0] = r2[:, 0] - nx; rect[:, 2, 1] = r2[:, 1] - ny
        rect[:, 3, 0] = r[:, 0] - nx;  rect[:, 3, 1] = r[:, 1] - ny
        rect = rect[ok]
        # shoelace per rectangle; flip CW ones
        x = rect[:, :, 0]; y = rect[:, :, 1]
        x2 = np.concatenate((x[:, 1:], x[:, :1]), axis=1)
        y2 = np.concatenate((y[:, 1:], y[:, :1]), axis=1)
        signed = ((x * y2) - (y * x2)).sum(axis=1)
        cw = signed < 0
        if cw.any():
            rect[cw] = rect[cw, ::-1]
        if len(rect):
            caps.append(rect)
        if joins == "all":
            centers = r
        else:
            # turn direction at each vertex: cross(incoming, outgoing)
            prev = np.roll(r, 1, axis=0)
            vin = r - prev
            vout = r2 - r
            cross = vin[:, 0] * vout[:, 1] - vin[:, 1] * vout[:, 0]
            # interior is left of travel: right turns (cross<=0) are the
            # reflex-to-interior corners
            centers = r[cross <= 0]
        if len(centers):
            caps.append(_unit_disk(nseg)[None, :, :] * d + centers[:, None, :])
    return caps


def fill_pockets(rings: list[np.ndarray], d: float) -> list[np.ndarray]:
    """Drop each right-turn vertex whose two neighbours are at most
    ``d*sqrt(0.4)`` apart — one pass, never two adjacent vertices.

    Dropping vertex v adds the triangle (prev, next, v) to the ring,
    and a right turn makes that triangle CCW whatever the ring's
    orientation, so the winding number grows by one inside it: for a
    valid input (winding never negative) the result is a superset (hole
    rings included: a pocket of a CW hole is a convex corner of the
    hole, which shrinks). Since no two dropped vertices are adjacent,
    every triangle keeps both its mouth vertices. A ring left with
    fewer than 3 vertices has zero winding and is dropped.
    """
    lim2 = 0.4 * d * d
    out = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        prev = np.roll(r, 1, axis=0)
        nxt = np.roll(r, -1, axis=0)
        vin = r - prev
        vout = nxt - r
        cross = vin[:, 0] * vout[:, 1] - vin[:, 1] * vout[:, 0]
        mouth = nxt - prev
        cand = np.flatnonzero(
            (cross < 0) & (mouth[:, 0] ** 2 + mouth[:, 1] ** 2 <= lim2)
        )
        if not len(cand):
            out.append(r)
            continue
        drop = np.zeros(len(r), dtype=bool)
        for i in cand:
            drop[i] = not drop[i - 1]
        drop[-1] &= not drop[0]  # the ring wraps: last and first are adjacent
        if len(r) - int(drop.sum()) >= 3:
            out.append(r[~drop])
    return out


def offset_rings(
    rings: list[np.ndarray], d: float, nseg: int = 32
) -> list[np.ndarray]:
    """One raw offset ring per ring, d to the right of travel (outside
    CCW outers, inside CW holes): every edge shifted by d along its
    right normal. Per vertex, between the two shifted endpoints, it
    emits at a right turn the vertex itself and at a left turn the
    points where the two edges' end normals meet the nseg-gon's chords,
    with the nseg-gon vertices strictly between them. A left turn next
    to an edge shorter than ``d*sin(pi/nseg)`` also gets its whole
    nseg-gon (one block per ring). Nonzero winding over
    ``rings + offset_rings(rings, d)`` fills the capsule union (see the
    module docstring); the ring itself self-intersects."""
    from brdrq_spark.geom.core import rot1

    step = 2.0 * np.pi / nseg
    disk = _unit_disk(nseg) * d

    def chord(a: np.ndarray) -> np.ndarray:
        # distance from the centre to the nseg-gon boundary at angle a
        return d * np.cos(0.5 * step) / np.cos(a - (np.floor(a / step) + 0.5) * step)

    out = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        r = r[(r != rot1(r)).any(axis=1)]
        n = len(r)
        if n < 3:
            continue
        t = rot1(r) - r
        length = np.hypot(t[:, 0], t[:, 1])
        t /= length[:, None]
        n_out = np.column_stack([t[:, 1], -t[:, 0]])  # right normal of edge i
        n_in = np.concatenate((n_out[-1:], n_out[:-1]))  # ... of edge i-1
        cross = n_in[:, 0] * n_out[:, 1] - n_in[:, 1] * n_out[:, 0]
        dot = (n_in * n_out).sum(axis=1)
        left = (cross > 0) | ((cross == 0) & (dot < 0))  # a U-turn goes round
        a1 = np.mod(np.arctan2(n_in[left, 1], n_in[left, 0]), 2.0 * np.pi)
        a2 = a1 + np.where(cross[left] > 0, np.arctan2(cross[left], dot[left]), np.pi)
        k_lo = np.floor(a1 / step).astype(np.int64) + 1
        n_arc = np.maximum(np.ceil(a2 / step).astype(np.int64) - k_lo, 0)
        m = np.full(n, 3, dtype=np.int64)
        m[left] = 4 + n_arc
        o = np.cumsum(m) - m
        pts = np.empty((int(m[-1] + o[-1]), 2))
        pts[o] = r + d * n_in
        pts[o + m - 1] = r + d * n_out
        pts[o[~left] + 1] = r[~left]
        o, c = o[left], r[left]
        pts[o + 1] = c + chord(a1)[:, None] * n_in[left]
        pts[o + 2 + n_arc] = c + chord(a2)[:, None] * n_out[left]
        i = np.repeat(np.arange(len(n_arc)), n_arc)
        j = np.arange(len(i)) - np.repeat(np.cumsum(n_arc) - n_arc, n_arc)
        pts[o[i] + 2 + j] = c[i] + disk[(k_lo[i] + j) % nseg]
        out.append(pts)
        # the nseg-gon at the end of an edge shorter than d*sin(pi/nseg)
        # reaches past the next vertex's sector
        poke = left & (np.minimum(length, np.roll(length, 1)) < d * np.sin(0.5 * step))
        if poke.any():
            out.append(disk[None, :, :] + r[poke][:, None, :])
    return out


def buffer_rings(
    rings: list[np.ndarray], d: float, nseg: int = 32
) -> list[np.ndarray]:
    """Positive (dilate) or negative (erode) buffer; d=0 normalizes.

    A dilation unions the input's envelope (pockets with a mouth of at
    most d*sqrt(0.4) filled, then simplified at d/20) with its raw
    offset rings: the envelope's capsule union, traced in one ring per
    ring (see the module docstring). It moves by at most ~3d/20 against
    capsules on every input vertex and still contains the input. Output is simplified at d/20 (far below any observable
    tolerance) so composed morphological stages don't multiply arc
    vertices.
    """
    if not rings:
        return []
    if d > 0:
        env = simplify_rings(fill_pockets(rings, d), d / 20.0)
        out = boolean_op(env + offset_rings(env, d, nseg), [], "union")
        return simplify_rings(out, d / 20.0)
    if d < 0:
        return erode_rings(rings, -d, nseg)
    return boolean_op(rings, [], "union")


def erode_rings(
    rings: list[np.ndarray], d: float, nseg: int = 32
) -> list[np.ndarray]:
    if not rings or d <= 0:
        return boolean_op(rings, [], "union") if rings else []
    out = boolean_op(
        rings, boundary_capsules(rings, d, nseg, joins="interior"), "difference"
    )
    return simplify_rings(out, d / 20.0)


def erode_area(rings: list[np.ndarray], d: float, nseg: int = 16) -> float:
    """Area surviving erosion by d — the brdr relevance test, without
    boundary extraction (fast path)."""
    if not rings:
        return 0.0
    return area_of_op(
        rings, boundary_capsules(rings, d, nseg, joins="interior"), "difference"
    )


_TINY = 1e-6  # m²; the relevance-decision emptiness threshold (align._TINY)
# Certificate safety margin (m / m²). Snap rounding perturbs vertices by
# <= SNAP/sqrt(2) ~ 7e-7 m and can leave O(perimeter*SNAP) ~ 1e-4 m²
# residue in a trapezoid table; 1e-3 dominates both by ~10x, so a
# certificate can only fire where the exact table's decision is the
# same. Anything inside the margin band falls through to the table.
_CERT_MARGIN = 1e-3


def erode_nonempty(rings: list[np.ndarray], d: float, nseg: int = 16) -> bool:
    """Decision-only erosion test: ``erode_area(rings, d, nseg) > _TINY``
    without building a scanbeam table when a cheap certificate settles it.

    The align kernel's full/sliver relevance decisions (the measured hot
    path: ~80% of kernel time was capsule-block trapezoid tables,
    BASELINE.md round-5 census) only consume this boolean, never the
    area. Two rigorous certificates decide ~2/3 of the calls from
    shoelace sums alone; the rest take the exact table:

    * NONEMPTY: the capsules can remove at most
      ``2d*perimeter + n_vertices*pi*d^2`` (each edge rectangle is
      exactly ``2d*len``; each join disk is an inscribed N-gon < pi*d^2,
      and "interior" pruning only drops disks) — if
      ``area - that > _TINY + margin``, something must survive. Valid
      only when the CCW rings are pairwise bbox-disjoint (with margin):
      then the filled area is at least the signed shoelace sum (CW
      rings subtract conservatively in any arrangement), whereas
      stacked CCW rings would let the signed sum overcount winding>=2
      regions and overstate what survives.
    * EMPTY: fires only when EVERY ring is CCW. A survivor point p
      escapes the capsules of each CCW ring containing it, and the
      "interior" pruning covers the full d'-neighborhood of a ring's
      boundary on the polygon-interior side (``d' = d*cos(pi/nseg)``,
      the join N-gon inradius) — so the d'-disk around p sits inside
      that single ring polygon, which then needs ``area >= pi*d'^2``
      and a bbox >= 2d' in both axes. When every CCW ring fails that
      size test, nothing survives; overlapping rings are fine (each
      containing polygon works on its own). Any CW ring disables the
      certificate: "interior" pruning is wrong-sided for a
      free-standing CW region (its polygon-interior reflex wedges are
      uncovered), so ``erode_area`` can keep corner-hugging survivors
      there regardless of the polygon's size.

    Both analytic certificates assume SIMPLE rings (the post-make_valid
    pipeline contract): shoelace sums cannot see self-intersection, so
    a figure-eight ring could defeat either bound. The coarse-table
    prescreen below needs no such assumption (its containment argument
    is set-theoretic on the scanbeam inputs themselves) and picks up
    everything the gated certificates decline.

    Both are margin-guarded against snap rounding (``_CERT_MARGIN``), so
    the boolean is always the one the exact table would produce —
    pinned by the adversarial equivalence sweep in
    tests/test_geom_properties.py.
    """
    if not rings or d <= 0:
        return erode_area(rings, d, nseg) > _TINY
    area = 0.0
    perim = 0.0
    nv = 0
    outers: list[tuple[float, float, float, float, float]] = []
    holes: list[tuple[float, float, float, float, float]] = []
    for ring in rings:
        if ring.ndim != 2 or len(ring) < 3:
            return erode_area(rings, d, nseg) > _TINY
        x = ring[:, 0]
        y = ring[:, 1]
        a = 0.5 * (np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
        dx = np.roll(x, -1) - x
        dy = np.roll(y, -1) - y
        area += a
        perim += float(np.hypot(dx, dy).sum())
        nv += len(ring)
        box = (float(x.min()), float(y.min()), float(x.max()), float(y.max()), a)
        if a > 0:  # CCW
            outers.append(box)
        else:
            holes.append(box)
    def _pairwise_disjoint(
        boxes: list[tuple[float, float, float, float, float]],
    ) -> bool:
        return all(
            (
                bi[2] < bj[0] - _CERT_MARGIN
                or bj[2] < bi[0] - _CERT_MARGIN
                or bi[3] < bj[1] - _CERT_MARGIN
                or bj[3] < bi[1] - _CERT_MARGIN
            )
            for i, bi in enumerate(boxes)
            for bj in boxes[i + 1 :]
        )

    # NONEMPTY certificate: removal upper bound can't reach the area.
    # Gated on disjoint CCW rings so the signed sum is a lower bound
    # on the NONZERO-filled area (see docstring); CW rings subtract
    # their full polygon area, conservative in any arrangement. The
    # arithmetic test runs first so the pairwise loop only executes
    # on prospective firings.
    if (area - 2.0 * d * perim - nv * np.pi * d * d > _TINY + _CERT_MARGIN) and (
        len(outers) <= 1 or _pairwise_disjoint(outers)
    ):
        return True
    # EMPTY certificate: all-CCW inputs only (see docstring — a CW
    # ring, nested hole or free-standing region alike, routes to the
    # coarse prescreen instead). Overlapping CCW rings are fine, so
    # no disjointness condition here.
    if not holes:
        dp = d * float(np.cos(np.pi / nseg))
        fits = any(
            min(b[2] - b[0], b[3] - b[1]) >= 2.0 * dp - _CERT_MARGIN
            and b[4] >= np.pi * dp * dp - _CERT_MARGIN
            for b in outers
        )
        if not fits:
            return False
    # Coarse-table EMPTY prescreen for the shapes the analytic
    # certificates are blind to (bent thin bands whose bbox is large in
    # every direction).  ``_unit_disk(4)`` vertices sit at angles
    # 0/90/180/270 — a phase-aligned subset of every ``_unit_disk(4k)``
    # — so by convexity the 4-gon disk of radius d-μ is contained in the
    # nseg-gon disk of radius d, and each edge rectangle of half-width
    # d-μ is contained in the one of half-width d.  Hence
    # ``capsules(d-μ, 4) ⊆ capsules(d, nseg)`` pointwise for ANY input
    # (no simplicity or orientation assumption — the containment is set
    # theoretic and both sides fill by the same NONZERO winding), and
    # erosion by the coarse capsules is a superset of the exact erosion:
    # a (near-)empty coarse table certifies the exact table empty.  The
    # μ = _CERT_MARGIN radius back-off makes the containment gap
    # (≥ μ·cos(π/4) ≈ 7e-4 m, the rectangle half-width delta) dominate
    # snap rounding (≤ 7e-7 m): any exact-table survivor sliver of area
    # > _TINY implies a free disk of radius ~μ·cos(π/4) in the coarse
    # arrangement, i.e. coarse area ≥ π(7e-4)² ≈ 1.5e-6 — so a coarse
    # reading ≤ 1e-9 can only occur where the exact table reads empty.
    # Measured on the bench workload by a census of the fallback calls:
    # every fallthrough call fires the prescreen (all are EMPTY bands),
    # so there is no double-build penalty; the net win is modest there
    # (the median fallback ring has ~6 vertices and the table cost is
    # numpy fixed overhead, not vertex count) but the largest fallback
    # tables (>256 capsule vertices) halve, which is what matters for
    # vertex-dense inputs.  A tighter analytic NONEMPTY bound
    # (d*perim instead of 2d*perim, valid for certified-simple rings)
    # was probed and rejected: it fires zero times on this workload —
    # the fallbacks are EMPTY-side, not threshold-band NONEMPTY.
    if nseg % 4 == 0 and nseg > 4 and d > 2.0 * _CERT_MARGIN:
        if erode_area(rings, d - _CERT_MARGIN, 4) <= 1e-9:
            return False
    return erode_area(rings, d, nseg) > _TINY


def open_rings(rings: list[np.ndarray], d: float, nseg: int = 32) -> list[np.ndarray]:
    return buffer_rings(erode_rings(rings, d, nseg), d, nseg)
