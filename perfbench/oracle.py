"""Independent expected results for the skyline benchmark.

The expected skyline is computed with numpy alone — no code from the
engine — and then *proved*: a candidate set S is exactly the skyline of
the rows X iff

(a) every row of X outside S is strictly dominated by some row of S, and
(b) no row of S is strictly dominated by another row of S.

(If a member s of S were dominated by some q, q is in S — contradicting
(b) — or q is dominated by some s' in S by (a), and s' then dominates s
by transitivity, again contradicting (b).) The candidate search may
therefore be any heuristic; correctness rests on the brute-force
dominance test of the proof. Semantics match the engine's documented
ones: rows with a NULL (NaN) dimension are dropped, dominance is strict,
and duplicates of a skyline row all survive.
"""

from __future__ import annotations

import numpy as np

#: bound on the (rows x points) boolean temporaries
_BLOCK_CELLS = 1 << 22


def _dominated_by(points: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """For each row, whether some point strictly dominates it
    (all values min-normalized: smaller is better)."""
    out = np.zeros(len(rows), dtype=bool)
    if len(points) == 0 or len(rows) == 0:
        return out
    d = rows.shape[1]
    step = max(1, _BLOCK_CELLS // len(rows))
    alive = np.arange(len(rows))
    for s0 in range(0, len(points), step):
        p = points[s0 : s0 + step]
        r = rows[alive]
        le = p[None, :, 0] <= r[:, 0, None]
        lt = p[None, :, 0] < r[:, 0, None]
        for j in range(1, d):
            le &= p[None, :, j] <= r[:, j, None]
            lt |= p[None, :, j] < r[:, j, None]
        hit = (le & lt).any(axis=1)
        out[alive[hit]] = True
        alive = alive[~hit]
        if len(alive) == 0:
            break
    return out


def _candidates(values: np.ndarray) -> np.ndarray:
    """Indices of a candidate skyline: rows scanned in ascending
    coordinate-sum order (a dominator always has a strictly smaller
    sum), each block tested against every survivor found so far and
    against itself."""
    order = np.argsort(values.sum(axis=1), kind="stable")
    block = 1024
    # the skyline of the best-sum block prunes most rows in one pass
    head = values[order[:block]]
    head = head[~_dominated_by(head, head)]
    order = order[~_dominated_by(head, values[order])]
    kept: list[np.ndarray] = []
    window = np.empty((0, values.shape[1]))
    for s0 in range(0, len(order), block):
        idx = order[s0 : s0 + block]
        rows = values[idx]
        alive = ~_dominated_by(window, rows)
        idx, rows = idx[alive], rows[alive]
        alive = ~_dominated_by(rows, rows)
        kept.append(idx[alive])
        window = np.concatenate([window, rows[alive]])
    return np.sort(np.concatenate(kept)) if kept else np.zeros(0, dtype=np.int64)


def skyline_indices(values: np.ndarray) -> np.ndarray:
    """Sorted row indices of the skyline of ``values`` (n, d),
    min-normalized, NaN meaning NULL. Raises if the proof fails."""
    values = np.asarray(values, dtype=np.float64)
    valid = np.flatnonzero(~np.isnan(values).any(axis=1))
    x = values[valid]
    cand = _candidates(x)
    sky = x[cand]
    sky = sky[np.argsort(sky.sum(axis=1), kind="stable")]  # strongest first
    rest = np.setdiff1d(np.arange(len(x)), cand, assume_unique=True)
    if not _dominated_by(sky, x[rest]).all():
        raise AssertionError("oracle proof failed: a non-candidate is undominated")
    if _dominated_by(sky, sky).any():
        raise AssertionError("oracle proof failed: a candidate is dominated")
    return valid[cand]


def signed(columns: dict[str, np.ndarray], dims) -> np.ndarray:
    """(n, d) min-normalized matrix for a ``[(column, 'min'|'max')]`` spec."""
    return np.column_stack(
        [columns[c] * (1.0 if how == "min" else -1.0) for c, how in dims]
    ).astype(np.float64)
