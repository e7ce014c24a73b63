"""``simplify_rings``' level-synchronous Douglas–Peucker keeps the same
vertices, bit for bit, as the per-segment scalar DP it replaced (kept
below as the oracle): on every ring the alignment kernel simplifies for
the seed-1 and seed-7919 image footprints, and on generated rings
(pixel staircases, repeated points, zero-length chords, collinear runs,
arbitrary floats) simplified one by one and several per call."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from brdrq_spark.geom.simplify import simplify_rings


def _dp_keep(pts, tol, keep, i0, i1):
    stack = [(i0, i1)]
    tol2 = tol * tol
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        seg = pts[a:b + 1]
        p0, p1 = pts[a], pts[b]
        d = p1 - p0
        ll = float(d @ d)
        if ll == 0:
            dist2 = ((seg - p0) ** 2).sum(axis=1)
        else:
            t = np.clip(((seg - p0) @ d) / ll, 0.0, 1.0)
            proj = p0 + t[:, None] * d
            dist2 = ((seg - proj) ** 2).sum(axis=1)
        k = int(np.argmax(dist2))
        if dist2[k] > tol2:
            keep[a + k] = True
            stack.append((a, a + k))
            stack.append((a + k, b))


def _oracle_ring(ring, tol):
    n = len(ring)
    if n <= 4 or tol <= 0:
        return ring
    a0 = int(np.argmax(((ring - ring.mean(axis=0)) ** 2).sum(axis=1)))
    d2 = ((ring - ring[a0]) ** 2).sum(axis=1)
    a1 = int(np.argmax(d2))
    lo, hi = min(a0, a1), max(a0, a1)
    rolled = np.roll(ring, -lo, axis=0)
    split = hi - lo
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[split] = True
    _dp_keep(rolled, tol, keep, 0, split)
    wrapped = np.vstack([rolled[split:], rolled[:1]])
    keep2 = np.zeros(len(wrapped), dtype=bool)
    _dp_keep(wrapped, tol, keep2, 0, len(wrapped) - 1)
    keep[split:] |= keep2[:-1]
    out = rolled[keep]
    return out if len(out) >= 3 else ring


def _assert_matches_oracle(rings, tol):
    got = simplify_rings(rings, tol)
    want = [_oracle_ring(r, tol) for r in rings]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype and g.shape == w.shape
        assert g.tobytes() == w.tobytes()


def test_matches_scalar_dp_on_image_kernel_rings(image_kernel_frames):
    from brdrq_spark.geom import buffer
    from brdrq_spark.operators import align as align_mod

    calls = []
    real = buffer.simplify_rings

    def spy(rings, tol):
        calls.append(([np.array(r) for r in rings], tol))
        return real(rings, tol)

    kern = align_mod._make_kernel(align_mod.AlignConfig(relevant_distances=[2.0]), 10)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(buffer, "simplify_rings", spy)
        for seed in (1, 7919):
            for pdf in image_kernel_frames(seed):
                kern(pdf)
    assert len(calls) >= 200
    assert sum(len(r) for rings, _ in calls for r in rings) >= 50_000
    for rings, tol in calls:
        _assert_matches_oracle(rings, tol)


_TOLS = st.sampled_from([0.01, 0.1, 0.3, 0.5, 1.0, 2.5])


@st.composite
def _staircase(draw):
    """A pixel-traced blob (outer ring and holes) at 0.3-0.45 m pixels."""
    from brdrq_spark.raster.footprint import mask_to_rings

    h, w = draw(st.integers(3, 14)), draw(st.integers(3, 14))
    cells = draw(st.lists(st.booleans(), min_size=h * w, max_size=h * w))
    mask = np.array(cells, dtype=bool).reshape(h, w)
    mask[h // 2, w // 2] = True
    px = draw(st.sampled_from([0.3, 0.35, 0.4, 0.45]))
    x0, y0 = draw(st.floats(-1e3, 1e3)), draw(st.floats(-1e3, 1e3))
    return [r * px + np.array([x0, y0]) for r in mask_to_rings(mask)]


@st.composite
def _grid_ring(draw):
    """Vertices on a 4x4 grid: repeated points, zero-length chords
    (segments whose ends coincide) and collinear runs."""
    n = draw(st.integers(5, 40))
    xy = draw(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 3)), min_size=n, max_size=n))
    return [np.array(xy, dtype=float) * draw(st.sampled_from([1.0, 0.7, 3.3]))]


@st.composite
def _collinear(draw):
    """A polygon whose edges are subdivided into collinear runs, with
    some vertices repeated."""
    k = draw(st.integers(3, 7))
    ang = np.sort(np.array(draw(st.lists(st.floats(0, 2 * np.pi), min_size=k, max_size=k,
                                         unique=True))))
    r = draw(st.floats(1.0, 50.0))
    corners = np.column_stack([np.cos(ang), np.sin(ang)]) * r
    steps = draw(st.lists(st.integers(1, 8), min_size=k, max_size=k))
    ring = np.vstack([
        a + (b - a) * np.linspace(0.0, 1.0, m, endpoint=False)[:, None]
        for a, b, m in zip(corners, np.roll(corners, -1, axis=0), steps)
    ])
    reps = draw(st.lists(st.integers(1, 3), min_size=len(ring), max_size=len(ring)))
    return [np.repeat(ring, reps, axis=0)]


@st.composite
def _random_walk(draw):
    """Arbitrary float coordinates: a closed random walk."""
    n = draw(st.integers(5, 120))
    steps = draw(st.lists(st.tuples(st.floats(-3, 3), st.floats(-3, 3)), min_size=n, max_size=n))
    return [np.cumsum(np.array(steps), axis=0) + draw(st.floats(-1e4, 1e4))]


_RINGS = st.one_of(_staircase(), _grid_ring(), _collinear(), _random_walk())


@settings(max_examples=300, deadline=None, derandomize=True, database=None)
@given(rings=_RINGS, tol=_TOLS)
def test_matches_scalar_dp_on_generated_rings(rings, tol):
    _assert_matches_oracle(rings, tol)


@settings(max_examples=100, deadline=None, derandomize=True, database=None)
@given(groups=st.lists(_RINGS, min_size=2, max_size=5), tol=_TOLS)
def test_matches_scalar_dp_with_many_rings_per_call(groups, tol):
    small = [np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]])]  # <= 4 vertices: unchanged
    _assert_matches_oracle([r for g in groups for r in g] + small, tol)


def test_short_rings_and_zero_tolerance_unchanged():
    ring = np.array([[0, 0], [1, 0.01], [2, 0], [2, 2], [1, 2.01], [0, 2]], dtype=float)
    tri = ring[:3]
    out = simplify_rings([ring, tri], 0.0)
    assert out[0] is ring and out[1] is tri
    out = simplify_rings([ring, tri], 0.1)
    assert len(out[0]) == 4 and out[1] is tri
