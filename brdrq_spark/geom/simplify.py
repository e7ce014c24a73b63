"""Douglas–Peucker ring simplification.

Buffer/erode stages add discretized-arc vertices; composing them (the
align kernel's morphological opening and grow) would multiply edge
counts geometrically. Simplifying at a tolerance well below the
correction distance keeps edge counts bounded without observable
geometric change.
"""

from __future__ import annotations

import numpy as np


def _dp_keep(pts: np.ndarray, tol: float, keep: np.ndarray, i0: int, i1: int) -> None:
    """Mark kept indices between anchors i0, i1 (iterative stack DP)."""
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


def simplify_ring(ring: np.ndarray, tol: float) -> np.ndarray:
    """DP-simplify a closed ring (first point not repeated)."""
    n = len(ring)
    if n <= 4 or tol <= 0:
        return ring
    # anchors: two mutually far points so the split chains are stable
    a0 = int(np.argmax(((ring - ring.mean(axis=0)) ** 2).sum(axis=1)))
    d2 = ((ring - ring[a0]) ** 2).sum(axis=1)
    a1 = int(np.argmax(d2))
    lo, hi = min(a0, a1), max(a0, a1)
    rolled = np.roll(ring, -lo, axis=0)
    split = hi - lo
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[split] = True
    _dp_keep(rolled, tol, keep, 0, split)
    # second chain wraps: append the start point for the closing chain
    wrapped = np.vstack([rolled[split:], rolled[:1]])
    keep2 = np.zeros(len(wrapped), dtype=bool)
    _dp_keep(wrapped, tol, keep2, 0, len(wrapped) - 1)
    keep[split:] |= keep2[:-1]
    out = rolled[keep]
    return out if len(out) >= 3 else ring


def simplify_rings(rings: list[np.ndarray], tol: float) -> list[np.ndarray]:
    return [simplify_ring(r, tol) for r in rings]
