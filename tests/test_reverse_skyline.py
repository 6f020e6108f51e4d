"""Reverse skyline vs a numpy brute-force oracle."""

from __future__ import annotations

import importlib
from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra import numpy as hnp

from skylinemapreducehadoop_spark.operators.reverse import reverse_skyline

S = importlib.import_module("skylinemapreducehadoop_spark.operators.skyline")


def _oracle_ids(rows, q):
    """Value-level reverse skyline: keep row i iff no other VALUE t with
    |t-p| <= |q-p| componentwise, strict somewhere."""
    vals = np.array([[r[1], r[2]] for r in rows], dtype=float)
    qv = np.asarray(q, dtype=float)
    keep = []
    for i, p in enumerate(vals):
        r = np.abs(qv - p)
        diff = np.abs(vals - p[None, :])
        le = (diff <= r[None, :]).all(axis=1)
        lt = (diff < r[None, :]).any(axis=1)
        neq = (vals != p[None, :]).any(axis=1)
        if not (le & lt & neq).any():
            keep.append(rows[i][0])
    return sorted(keep)


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.RandomState(11)
    pts = rng.rand(250, 2).round(2) * 10
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    rows.append((900, float(pts[3][0]), float(pts[3][1])))  # duplicate value
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(7)
    return rows, df


def test_reverse_skyline_matches_oracle(spark, points):
    rows, df = points
    q = (5.0, 5.0)
    got = sorted(r["id"] for r in reverse_skyline(df, ["x", "y"], q).collect())
    assert got == _oracle_ids(rows, q)
    assert got  # non-vacuous


def test_reverse_skyline_query_on_a_point(spark, points):
    rows, df = points
    # q exactly on a data point: that value has zero radius, so nothing
    # can strictly dominate q w.r.t. it -> it must survive
    q = (rows[3][1], rows[3][2])
    got = sorted(r["id"] for r in reverse_skyline(df, ["x", "y"], q).collect())
    assert got == _oracle_ids(rows, q)
    assert rows[3][0] in got and 900 in got  # both duplicates survive


def test_reverse_skyline_blocked_path(spark, points, monkeypatch):
    rows, df = points
    q = (5.0, 5.0)
    monkeypatch.setattr(S, "_BROADCAST_ROWS", 2)
    monkeypatch.setattr(S, "_CAND_BLOCK_ROWS", 16)
    monkeypatch.setattr(S, "_DATA_BLOCK_ROWS", 64)
    got = sorted(r["id"] for r in reverse_skyline(df, ["x", "y"], q).collect())
    assert got == _oracle_ids(rows, q)


def test_dynamic_skyline_matches_bruteforce_reference(spark):
    import itertools

    import numpy as np

    from skylinemapreducehadoop_spark.operators.reverse import dynamic_skyline

    rng = np.random.default_rng(11)
    pts = rng.integers(0, 20, size=(120, 2)).astype(float)
    q = (7.0, 11.0)
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id long, x double, y double",
    )
    got = sorted(
        (r["x"], r["y"]) for r in dynamic_skyline(df, ["x", "y"], q).collect()
    )
    # reference: strict Pareto dominance in |p - q| space
    d = np.abs(pts - np.asarray(q))
    keep = []
    for i in range(len(pts)):
        dominated = any(
            (d[j] <= d[i]).all() and (d[j] < d[i]).any() for j in range(len(pts))
        )
        if not dominated:
            keep.append(tuple(pts[i]))
    assert got == sorted(keep)
    # strategies agree
    got_qt = sorted(
        (r["x"], r["y"])
        for r in dynamic_skyline(df, ["x", "y"], q, strategy="bruteforce").collect()
    )
    assert got_qt == got


def test_reverse_skyline_empty_after_verify(spark):
    """Rows survive both local passes (each partition alone has no
    violator) but none survives the full verify: every value is
    violated, so the answer is empty rather than an error."""
    rows = [(0, 1.5), (1, 1.2), (2, 1.0)]
    df = spark.sparkContext.parallelize(rows, 2).toDF("id int, x double")
    assert reverse_skyline(df, ["x"], (0.0,)).collect() == []
    assert _oracle_ids([(i, x, 0.0) for i, x in rows], (0.0, 0.0)) == []


def test_reverse_skyline_blocked_matches_broadcast_on_typed_dims(spark, monkeypatch, typed_points):
    """Timestamps verify as epoch microseconds, dates as epoch days and
    decimals as floats on both paths; every x encoding scales the
    integer code ``a`` by a constant, so the oracle runs on the codes."""
    import datetime

    dtype, rows, df = typed_points
    qa = 20.0
    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp()
    if dtype.startswith("timestamp"):
        qx = base * 1e6 + qa * 1_000_007
    elif dtype == "date":
        qx = base / 86_400 + qa
    else:
        qx = qa / 4
    want = _oracle_ids(rows, (qa, 20.0))

    via_broadcast = sorted(r["id"] for r in reverse_skyline(df, ["x", "y"], (qx, 20.0)).collect())
    monkeypatch.setattr(S, "_BROADCAST_ROWS", 0)
    monkeypatch.setattr(S, "_CAND_BLOCK_ROWS", 4)
    monkeypatch.setattr(S, "_DATA_BLOCK_ROWS", 32)
    blocked = sorted(r["id"] for r in reverse_skyline(df, ["x", "y"], (qx, 20.0)).collect())
    assert blocked == via_broadcast == want
    assert want


def _box_violations_3d(q, cand, rows):
    """The box count over one (candidates, rows, dims) block — the
    reference the per-dimension fold in ``reverse._box_violations`` must
    equal exactly."""
    radii = np.abs(q[None, :] - cand)
    diff = np.abs(rows[None, :, :] - cand[:, None, :])
    le = (diff <= radii[:, None, :]).all(axis=2)
    lt = (diff < radii[:, None, :]).any(axis=2)
    neq = (rows[None, :, :] != cand[:, None, :]).any(axis=2)
    return (le & lt & neq).sum(axis=1)


_POOL = [-np.inf, -1.0, -0.0, 0.0, 0.5, 1.0, 3.0, np.inf, np.nan]


@settings(max_examples=300, deadline=None)
@given(data=st.data(), d=st.integers(1, 5), cells=st.sampled_from([1, 7, 1 << 22]))
def test_box_violations_match_3d_formula(data, d, cells):
    """Ties, duplicates, ±0, ±inf and NaN in the query point, the
    candidates and the rows, under any candidate chunking."""
    from skylinemapreducehadoop_spark.operators import reverse

    elements = st.sampled_from(_POOL) | st.floats(-4, 4, width=16)

    def matrix(max_rows):
        return hnp.arrays(np.float64, st.tuples(st.integers(0, max_rows), st.just(d)), elements=elements)

    q = data.draw(hnp.arrays(np.float64, d, elements=elements), label="q")
    cand = data.draw(matrix(30), label="cand")
    rows = data.draw(matrix(30), label="rows")
    with mock.patch.object(reverse, "_BOX_CELLS", cells), np.errstate(invalid="ignore"):
        got = reverse._box_violations(q)(cand, rows)
        want = _box_violations_3d(q, cand, rows)
    assert got.tolist() == want.tolist()
