"""Douglas–Peucker ring simplification.

Buffer/erode stages add discretized-arc vertices; composing them (the
align kernel's morphological opening and grow) would multiply edge
counts geometrically. Simplifying at a tolerance well below the
correction distance keeps edge counts bounded without observable
geometric change.
"""

from __future__ import annotations

import numpy as np


def simplify_rings(rings: list[np.ndarray], tol: float) -> list[np.ndarray]:
    """DP-simplify closed rings (first point not repeated).

    Each ring of more than 4 vertices is cut at two mutually far anchors
    into two chains, and one level-synchronous Douglas–Peucker runs over
    the chains of every ring: per level, each open segment finds its
    farthest vertex from its chord (the first on ties) and splits there
    if that vertex lies more than ``tol`` away. Every distance is the
    float expression of a per-segment scalar DP: a vertex's projection
    onto its chord is the same BLAS matrix-vector product (a stacked
    ``matmul``, one 2-row product per vertex) and the chord's squared
    length the same BLAS dot, so the kept vertices match it bit for bit
    (pinned by tests/test_simplify.py). A ring left with fewer than 3
    vertices is returned unchanged.
    """
    todo = [k for k, r in enumerate(rings) if len(r) > 4] if tol > 0 else []
    if not todo:
        return list(rings)
    closed, s, e, base = [], [], [], 0
    for k in todo:
        ring = rings[k]
        a0 = int(np.argmax(((ring - ring.mean(axis=0)) ** 2).sum(axis=1)))
        a1 = int(np.argmax(((ring - ring[a0]) ** 2).sum(axis=1)))
        lo, hi = min(a0, a1), max(a0, a1)
        rolled = np.roll(ring, -lo, axis=0)
        closed.append(np.vstack([rolled, rolled[:1]]))  # the second chain closes at rolled[0]
        n = len(ring)
        s += [base, base + hi - lo]
        e += [base + hi - lo, base + n]
        base += n + 1
    pts = np.concatenate(closed)
    keep = np.zeros(len(pts), dtype=bool)
    s, e = np.array(s), np.array(e)
    keep[s] = True
    tol2 = tol * tol
    while True:
        open_ = e - s >= 2
        s, e = s[open_], e[open_]
        if not len(s):
            break
        n = e - s + 1
        first = np.cumsum(n) - n  # each segment's offset in the flat level arrays
        seg = pts[np.arange(first[-1] + n[-1]) + np.repeat(s - first, n)]
        p0 = pts[s]
        d = pts[e] - p0
        ll = np.matmul(d[:, None, :], d[:, :, None]).ravel()
        p0 = np.repeat(p0, n, axis=0)
        dn = np.repeat(d, n, axis=0)
        rel = seg - p0
        dot = np.matmul(np.repeat(rel, 2, axis=0).reshape(-1, 2, 2), dn[:, :, None])[:, 0, 0]
        zero = ll == 0
        t = np.clip(dot / np.repeat(ll + zero, n), 0.0, 1.0)
        dist2 = ((seg - (p0 + t[:, None] * dn)) ** 2).sum(axis=1)
        if zero.any():  # a closed chord: distance to its end point
            z = np.repeat(zero, n)
            dist2[z] = (rel[z] ** 2).sum(axis=1)
        far = np.maximum.reduceat(dist2, first)
        hits = np.flatnonzero(dist2 == np.repeat(far, n))
        k = s + hits[np.searchsorted(hits, first)] - first
        cut = far > tol2
        k = k[cut]
        keep[k] = True
        s, e = np.concatenate([s[cut], k]), np.concatenate([k, e[cut]])
    out = list(rings)
    at = 0
    for k, ring in zip(todo, closed):
        n = len(ring) - 1
        kept = ring[:n][keep[at:at + n]]
        at += n + 1
        if len(kept) >= 3:
            out[k] = kept
    return out
