"""Kernel property tests: skyline_mask vs an O(n^2) brute force, plus
the FIXTURES.md F2 hand-computed cases and the metamorphic laws from
SURVEY.md §5.3 (no Spark needed — pure numpy)."""

from __future__ import annotations

from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra import numpy as hnp

from skylinemapreducehadoop_spark.operators import _kernel
from skylinemapreducehadoop_spark.operators._kernel import (
    dominance_matrix,
    dominates,
    layer_numbers,
    skyline_mask,
)


def brute_force_mask(values: np.ndarray) -> np.ndarray:
    n = len(values)
    keep = np.ones(n, dtype=bool)
    for i in range(n):
        for j in range(n):
            if i != j and dominates(values[j], values[i]):
                keep[i] = False
                break
    return keep


# --- F2 hand-computed cases -------------------------------------------------


def test_basic_hotel_case():
    # (price, distance) both min — classic
    pts = np.array([[50, 8], [80, 2], [90, 1], [60, 5], [100, 10], [55, 7]], dtype=float)
    mask = skyline_mask(pts)
    # (100,10) dominated by everything cheaper+closer; (55,7) dominates (50,8)? no: 55>50.
    expected = brute_force_mask(pts)
    assert mask.tolist() == expected.tolist()
    assert mask[4] == False  # noqa: E712  (100,10) strictly dominated


def test_duplicates_all_survive():
    pts = np.array([[1, 1], [1, 1], [1, 1], [2, 2]], dtype=float)
    mask = skyline_mask(pts)
    assert mask.tolist() == [True, True, True, False]


def test_all_identical():
    pts = np.ones((7, 3))
    assert skyline_mask(pts).all()


def test_single_point_and_empty():
    assert skyline_mask(np.array([[3.0, 4.0]])).tolist() == [True]
    assert skyline_mask(np.zeros((0, 2))).shape == (0,)


def test_anti_correlated_all_survive():
    x = np.linspace(0, 1, 50)
    pts = np.column_stack([x, 1 - x])
    assert skyline_mask(pts).all()


def test_correlated_single_survivor():
    rng = np.random.RandomState(0)
    base = rng.rand(100, 3) + 1.0
    pts = np.vstack([base, [[0.0, 0.0, 0.0]]])
    mask = skyline_mask(pts)
    assert mask[-1]
    assert mask.sum() == 1


# --- randomized equivalence -------------------------------------------------


@pytest.mark.parametrize("seed", range(12))
@pytest.mark.parametrize("d", [1, 2, 3, 5])
def test_matches_brute_force(seed, d):
    rng = np.random.RandomState(seed)
    n = rng.randint(1, 200)
    # ints so duplicates and ties actually occur
    pts = rng.randint(0, 8, size=(n, d)).astype(float)
    assert skyline_mask(pts).tolist() == brute_force_mask(pts).tolist()


def test_chunking_invariance():
    rng = np.random.RandomState(7)
    pts = rng.randint(0, 10, size=(500, 3)).astype(float)
    ref = skyline_mask(pts)
    for chunk in (1, 7, 64, 1000):
        assert (skyline_mask(pts, chunk=chunk) == ref).all()


# --- metamorphic laws -------------------------------------------------------


def test_idempotence():
    rng = np.random.RandomState(3)
    pts = rng.rand(300, 3)
    sky = pts[skyline_mask(pts)]
    assert skyline_mask(sky).all()


def test_combiner_law():
    """skyline(union of partition skylines) == skyline(all) — the
    correctness condition for the two-phase plan."""
    rng = np.random.RandomState(11)
    pts = rng.randint(0, 20, size=(400, 3)).astype(float)
    full = pts[skyline_mask(pts)]
    parts = np.array_split(pts, 7)
    partial = np.vstack([p[skyline_mask(p)] for p in parts])
    merged = partial[skyline_mask(partial)]
    assert sorted(map(tuple, merged)) == sorted(map(tuple, full))


def test_permutation_invariance():
    rng = np.random.RandomState(5)
    pts = rng.randint(0, 15, size=(200, 4)).astype(float)
    ref = sorted(map(tuple, pts[skyline_mask(pts)]))
    for seed in range(3):
        perm = np.random.RandomState(seed).permutation(len(pts))
        got = sorted(map(tuple, pts[perm][skyline_mask(pts[perm])]))
        assert got == ref


def test_monotone_transform_invariance():
    rng = np.random.RandomState(9)
    pts = rng.rand(150, 2)
    ref = skyline_mask(pts)
    transformed = np.column_stack([np.exp(pts[:, 0]), pts[:, 1] ** 3])
    assert (skyline_mask(transformed) == ref).all()


# --- properties against the scalar definition -------------------------------

_BIG = np.finfo(np.float64).max
#: a small value pool makes ties and duplicates common; it holds both
#: zeros, both infinities, the finite extremes (whose sums overflow) and NaN
_POOL = [-np.inf, -_BIG, -1.0, -0.0, 0.0, 0.5, 1.0, 3.0, _BIG, np.inf, np.nan]
_ELEMENTS = st.sampled_from(_POOL) | st.floats(-4, 4, width=16)


def _matrix(d: int, max_rows: int = 40):
    return hnp.arrays(np.float64, st.tuples(st.integers(0, max_rows), st.just(d)), elements=_ELEMENTS)


@settings(max_examples=300, deadline=None)
@given(data=st.data(), d=st.integers(1, 9))
def test_dominance_matrix_matches_scalar(data, d):
    p = data.draw(_matrix(d), label="p")
    q = data.draw(_matrix(d), label="q")
    got = dominance_matrix(p, q)
    assert got.shape == (len(q), len(p))
    want = [[dominates(pj, qi) for pj in p] for qi in q]
    assert got.tolist() == want


@settings(max_examples=300, deadline=None)
@given(
    data=st.data(),
    d=st.integers(1, 9),
    chunk=st.sampled_from([1, 7, 512, None]),
    window_chunk=st.sampled_from([3, _kernel._WINDOW_CHUNK]),
)
def test_skyline_mask_matches_brute_force_property(data, d, chunk, window_chunk):
    """Any chunking (None: one chunk of all n rows), any window block,
    ties, duplicates, ±0, ±inf and NaN: a row holding NaN is never
    dominated and never dominates."""
    values = data.draw(_matrix(d), label="values")
    with mock.patch.object(_kernel, "_WINDOW_CHUNK", window_chunk):
        got = skyline_mask(values, chunk=chunk or max(len(values), 1))
    assert got.tolist() == brute_force_mask(values).tolist()


def test_all_identical_large():
    assert skyline_mask(np.ones((5000, 9))).all()


@settings(max_examples=300, deadline=None)
@given(
    data=st.data(),
    d=st.integers(1, 9),
    cap=st.sampled_from([None, 1, 3]),
    cells=st.sampled_from([1, 7, _kernel._COUNT_CELLS]),
)
def test_dominator_counts_matches_scalar(data, d, cap, cells):
    """min(true count, cap) of the rows strictly dominating each
    candidate, under any row chunking (``cells`` bounds one matrix)."""
    cand = data.draw(_matrix(d), label="cand")
    rows = data.draw(_matrix(d), label="rows")
    with mock.patch.object(_kernel, "_COUNT_CELLS", cells):
        got = _kernel.dominator_counts(cand, rows, cap=cap)
    want = [sum(dominates(r, c) for r in rows) for c in cand]
    if cap is not None:
        want = [min(w, cap) for w in want]
    assert got.tolist() == want


def brute_force_depths(values: np.ndarray) -> list[int]:
    """Dominance depth by its recursion: 1 + the largest depth among a
    row's strict dominators (1 when it has none)."""
    depth: dict[int, int] = {}

    def of(i: int) -> int:
        if i not in depth:
            doms = [j for j in range(len(values)) if dominates(values[j], values[i])]
            depth[i] = 1 + max((of(j) for j in doms), default=0)
        return depth[i]

    return [of(i) for i in range(len(values))]


@settings(max_examples=300, deadline=None)
@given(data=st.data(), d=st.integers(1, 4), n_layers=st.integers(1, 6))
def test_layer_numbers_match_depth_recursion(data, d, n_layers):
    """Peeling ``n_layers`` skylines gives each row its dominance depth,
    or 0 past the last layer asked for: duplicates share a layer, NaN
    rows are layer 1, and asking for more layers than exist labels
    every row."""
    values = data.draw(_matrix(d), label="values")
    depths = brute_force_depths(values)
    got = layer_numbers(values, n_layers)
    assert got.dtype == np.int32
    assert got.tolist() == [k if k <= n_layers else 0 for k in depths]
    assert layer_numbers(values, len(values) + 1).tolist() == depths
    if n_layers == 1:
        assert got.tolist() == skyline_mask(values).astype(np.int32).tolist()
