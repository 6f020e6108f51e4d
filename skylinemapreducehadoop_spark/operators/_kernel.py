"""Vectorized in-memory skyline (Pareto-set) kernel.

Semantics match the reference engine's GSKY loop
(``/root/reference/Skyline.java:44-70`` and ``Point.dominates``,
``/root/reference/Point.java:62-70``): p dominates q iff p <= q on every
dimension and p < q on at least one — all dimensions min-normalized.
Strict dominance means exact duplicates never dominate each other, so
every copy of a non-dominated duplicate survives; a row holding NaN
never dominates and is never dominated.

One primitive, ``dominance_matrix``, carries every pairwise dominance
test of the skyline family. It walks the d dimensions, folding each
into two 2-D bool matrices, so no (n, m, d) temporary is ever built.
The reference uses an O(n² · d) scalar nested loop. Here: sort-filter-
skyline (SFS) on that primitive. A dominator sorts strictly before
anything it dominates, so by transitivity a point is dominated iff it
is dominated by an *already-found skyline point*. Each chunk is
therefore (a) filtered against the accumulated skyline window, then
(b) resolved intra-chunk — no per-row Python loop anywhere.
"""

from __future__ import annotations

import numpy as np

# Block sizes bound the primitive's working set: two (CHUNK, WINDOW_CHUNK)
# bool matrices plus one temporary, 2 MB each at any d. Chunks of 256
# and 512 rows tie on 4-d and 9-d inputs; 1024 is up to 30% slower and
# 2048 up to 2.8x, as a wider chunk compares more rows pairwise.
_CHUNK = 512
_WINDOW_CHUNK = 4096


def dominance_matrix(p: np.ndarray, q: np.ndarray) -> np.ndarray:
    """``bool[len(q), len(p)]``: True where ``p[j]`` strictly dominates
    ``q[i]`` (min-normalized (m, d) and (n, d) float arrays)."""
    n, m, d = len(q), len(p), p.shape[1]
    if d == 0:
        return np.zeros((n, m), dtype=bool)
    pt, qt = np.ascontiguousarray(p.T), np.ascontiguousarray(q.T)
    le = pt[0][None, :] <= qt[0][:, None]
    lt = pt[0][None, :] < qt[0][:, None]
    tmp = np.empty((n, m), dtype=bool)
    for k in range(1, d):
        pk, qk = pt[k][None, :], qt[k][:, None]
        le &= np.less_equal(pk, qk, out=tmp)
        lt |= np.less(pk, qk, out=tmp)
    return np.logical_and(le, lt, out=le)


def _sfs_order(values: np.ndarray) -> np.ndarray:
    """Row order in which a dominator precedes everything it dominates:
    by row sum (monotone under rounding; values are clipped so no partial
    sum overflows into ``inf + -inf = NaN``), ties broken lexicographically."""
    lim = np.finfo(np.float64).max / (values.shape[1] + 1)
    score = np.clip(values, -lim, lim).sum(axis=1)
    return np.lexsort((*values.T[::-1], score))


def skyline_mask(values: np.ndarray, chunk: int = _CHUNK) -> np.ndarray:
    """Boolean mask of Pareto-optimal rows of a (n, d) min-normalized array.

    Callers drop rows with a NULL dimension first (engine semantics:
    skyline is defined over non-null dimension values; the reference
    corrupts on its missing-value sentinels — SURVEY.md §1.2 — we filter
    instead).
    """
    values = np.asarray(values, dtype=np.float64)
    if values.ndim != 2:
        raise ValueError(f"expected (n, d) array, got shape {values.shape}")
    n = values.shape[0]
    if n == 0:
        return np.zeros(0, dtype=bool)

    order = _sfs_order(values)
    sv = values[order]

    keep_sorted = np.zeros(n, dtype=bool)
    window = np.empty_like(sv)  # accumulated skyline points, in SFS order
    w = 0

    for start in range(0, n, chunk):
        c = sv[start : start + chunk]
        alive = np.ones(len(c), dtype=bool)

        # (a) filter against the accumulated skyline window
        for ws in range(0, w, _WINDOW_CHUNK):
            idx = np.flatnonzero(alive)
            if not len(idx):
                break
            win = window[ws : min(ws + _WINDOW_CHUNK, w)]
            alive[idx[dominance_matrix(win, c[idx]).any(axis=1)]] = False

        # (b) intra-chunk pairwise dominance among survivors
        idx = np.flatnonzero(alive)
        alive[idx[dominance_matrix(c[idx], c[idx]).any(axis=1)]] = False

        survivors = c[alive]
        keep_sorted[start : start + len(c)] = alive
        window[w : w + len(survivors)] = survivors
        w += len(survivors)

    mask = np.zeros(n, dtype=bool)
    mask[order] = keep_sorted
    return mask


def dominates(p: np.ndarray, q: np.ndarray) -> bool:
    """Strict Pareto dominance on min-normalized vectors (Point.java:62-70)."""
    return bool(np.all(p <= q) and np.any(p < q))
