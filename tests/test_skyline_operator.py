"""Spark-level skyline operator tests (FIXTURES.md F2/F3)."""

from __future__ import annotations

import datetime
import importlib

import pytest
from pyspark.sql import functions as F

from skylinemapreducehadoop_spark.operators.skyline import (
    skyline,
    skyline_by,
    skyline_kband,
    skyline_layers,
)
from skylinemapreducehadoop_spark.sources.tables import load_table

# the module, not the ``skyline`` function the package re-exports
S = importlib.import_module("skylinemapreducehadoop_spark.operators.skyline")
Q = importlib.import_module("skylinemapreducehadoop_spark.operators.quadtree")


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_hand_case_mixed_directions(spark):
    rows = [
        (1, 50.0, 8.0),
        (2, 80.0, 2.0),
        (3, 90.0, 1.0),
        (4, 60.0, 5.0),
        (5, 100.0, 10.0),
    ]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    # x min, y min
    got = _ids(skyline(df, [("x", "min"), ("y", "min")]))
    assert got == [1, 2, 3, 4]
    # x min, y max: (5) has max y and is only dominated if something has
    # smaller x AND larger y — nothing does
    got2 = _ids(skyline(df, [("x", "min"), ("y", "max")]))
    assert 5 in got2 and 1 in got2


def test_null_rows_excluded(spark):
    rows = [(1, 1.0, 1.0), (2, None, 0.5), (3, 2.0, 2.0)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    got = _ids(skyline(df, [("x", "min"), ("y", "min")]))
    assert got == [1]


def test_duplicates_survive(spark):
    rows = [(1, 1.0, 1.0), (2, 1.0, 1.0), (3, 2.0, 2.0)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    got = _ids(skyline(df, [("x", "min"), ("y", "min")]))
    assert got == [1, 2]


def test_auto_tree_merge_anticorrelated(spark, monkeypatch):
    """Worst case for the merge: anti-correlated data where the skyline
    is EVERY row. The auto guard must pick a multi-partition tree merge
    (a tiny _MERGE_BATCH_ROWS forces it here) and still hash-match the
    brute-force single-partition answer."""
    n = 400
    rows = [(i, float(i), float(n - i)) for i in range(n)]  # x+y const
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(8)
    dims = [("x", "min"), ("y", "min")]

    monkeypatch.setattr(S, "_MERGE_BATCH_ROWS", 50)
    auto = skyline(df, dims)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    # local pass + >=1 intermediate tree level + final merge
    assert plan.count("MapInArrow") >= 3

    got = _ids(auto)
    want = _ids(skyline(df, dims, strategy="bruteforce"))
    assert got == want == list(range(n))


def test_kband_matches_bruteforce(spark):
    """k-skyband vs a numpy dominator-count oracle; k=1 must equal the
    skyline; duplicates of qualifying rows all survive."""
    import numpy as np

    rng = np.random.RandomState(5)
    pts = rng.rand(300, 2).round(3)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    rows.append((900, float(pts[0][0]), float(pts[0][1])))  # duplicate
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(9)
    dims = [("x", "min"), ("y", "min")]

    vals = np.array([[r[1], r[2]] for r in rows])
    le = (vals[:, None, :] <= vals[None, :, :]).all(axis=2)
    lt = (vals[:, None, :] < vals[None, :, :]).any(axis=2)
    n_dom = (le & lt).sum(axis=0)

    for k in (1, 3, 5):
        got = sorted(r["id"] for r in skyline_kband(df, dims, k).collect())
        want = sorted(rows[i][0] for i in range(len(rows)) if n_dom[i] < k)
        assert got == want, k
    assert sorted(r["id"] for r in skyline_kband(df, dims, 1).collect()) == _ids(
        skyline(df, dims)
    )


def test_kband_blocked_path_anticorrelated(spark, monkeypatch):
    """Anti-correlated data makes the candidate set ≈ the whole input;
    a tiny broadcast limit forces the fully distributed blocked counting
    path (no driver-side candidate materialization). Results must match
    the numpy dominator-count oracle and the broadcast path exactly."""
    import numpy as np

    n = 500
    # anti-correlated diagonal (every point is skyline) + dominated fill
    rows = [(i, float(i), float(n - i)) for i in range(n)]
    rows += [(10_000 + i, float(i + 2), float(n - i + 2)) for i in range(0, n, 5)]
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(9)
    dims = [("x", "min"), ("y", "min")]

    vals = np.array([[r[1], r[2]] for r in rows])
    le = (vals[:, None, :] <= vals[None, :, :]).all(axis=2)
    lt = (vals[:, None, :] < vals[None, :, :]).any(axis=2)
    n_dom = (le & lt).sum(axis=0)

    for k in (1, 4):
        with monkeypatch.context() as m:
            m.setattr(S, "_BROADCAST_ROWS", 50)
            m.setattr(S, "_CAND_BLOCK_ROWS", 64)
            m.setattr(S, "_DATA_BLOCK_ROWS", 128)
            got = sorted(r["id"] for r in skyline_kband(df, dims, k).collect())
        want = sorted(rows[i][0] for i in range(len(rows)) if n_dom[i] < k)
        assert got == want, k
        via_broadcast = sorted(r["id"] for r in skyline_kband(df, dims, k).collect())
        assert got == via_broadcast, k


def test_blocked_merge_matches_bruteforce(spark, monkeypatch):
    """The fully distributed merge (no single-partition stage) must
    agree with brute force — including on anti-correlated data where the
    skyline is everything, with duplicates, and with tiny blocks forcing
    many (i, j) pair tasks."""
    n = 300
    rows = [(i, float(i % 150), float(149 - i % 150)) for i in range(n)]  # dup pairs
    rows += [(1000 + i, float(i), float(i)) for i in range(50)]  # diagonal mix
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(7)
    dims = [("x", "min"), ("y", "min")]

    monkeypatch.setattr(S, "_CAND_BLOCK_ROWS", 40)
    monkeypatch.setattr(S, "_DATA_BLOCK_ROWS", 40)
    blocked = skyline(df, dims, merge="blocked")
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan  # truly no single-partition stage

    got = _ids(blocked)
    want = _ids(skyline(df, dims, strategy="bruteforce"))
    assert got == want


def test_blocked_merge_shuffle_rooted_input_and_full_duplicates(spark, monkeypatch):
    """An input whose lineage contains a SHUFFLE/aggregate
    (nondeterministic within-partition row order on recompute) is still
    merged correctly, and FULL duplicate rows (identical in every
    column) share dominated-fate: all copies of a non-dominated
    duplicate survive, all copies of a dominated one go."""
    from pyspark.sql import functions as F

    rows = [(i % 40, float(i % 20), float(19 - i % 20)) for i in range(400)]
    base = spark.createDataFrame(rows, "k int, x double, y double")
    # shuffle-rooted, duplicate-bearing input: the aggregate output
    # order within a partition is not a stable function of position
    agg = (
        base.groupBy("k", "x", "y")
        .agg(F.count("*").alias("copies"))
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.lit(2))))
        .drop("copy")  # 2 identical rows per (k, x, y) — full duplicates
    )
    dims = [("x", "min"), ("y", "min")]
    monkeypatch.setattr(S, "_CAND_BLOCK_ROWS", 30)
    monkeypatch.setattr(S, "_DATA_BLOCK_ROWS", 30)
    got = sorted(map(tuple, skyline(agg, dims, merge="blocked").collect()))
    want = sorted(map(tuple, skyline(agg, dims, strategy="bruteforce").collect()))
    assert got == want
    # every surviving duplicate kept BOTH copies
    from collections import Counter

    assert all(c == 2 for c in Counter(got).values())


def test_strategies_agree(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    dims = [("l_extendedprice", "min"), ("l_discount", "min"), ("l_quantity", "max")]
    key = lambda df: sorted(
        (r["l_orderkey"], r["l_linenumber"], r["l_extendedprice"])
        for r in df.collect()
    )
    a = key(skyline(li, dims, strategy="twophase"))
    b = key(skyline(li, dims, strategy="bruteforce"))
    c = key(skyline(li, dims, strategy="quadtree"))
    assert a == b == c
    assert len(a) > 0


def test_timestamp_dimension(spark):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 10.0),
        (2, base + datetime.timedelta(hours=1), 20.0),
        (3, base, 5.0),  # same ts as 1, lower value -> dominated by 1
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp, value double")
    got = _ids(skyline(df, [("ts", "min"), ("value", "max")]))
    assert got == [1, 2]


def test_grouped_skyline(spark):
    rows = [
        (1, "a", 1.0, 1.0),
        (2, "a", 2.0, 2.0),
        (3, "b", 5.0, 5.0),  # best of group b even though globally dominated
        (4, "b", 6.0, 6.0),
    ]
    df = spark.createDataFrame(rows, "id int, g string, x double, y double")
    got = _ids(skyline_by(df, "g", [("x", "min"), ("y", "min")]))
    assert got == [1, 3]


def test_layers(spark):
    rows = [(i, float(i), float(i)) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    out = skyline_layers(df, [("x", "min"), ("y", "min")], n_layers=3).collect()
    by_layer = {}
    for r in out:
        by_layer.setdefault(r["layer"], []).append(r["id"])
    assert by_layer == {1: [1], 2: [2], 3: [3]}


def test_layers_match_kernel_depths(spark):
    """Every partition's layers, merged: the layer of each row equals
    its depth peeled on the collected rows, across a frame with empty
    partitions, duplicates, NaN and a NULL dimension, for n below, at
    and beyond its number of layers."""
    import numpy as np

    from skylinemapreducehadoop_spark.operators._kernel import layer_numbers

    rng = np.random.default_rng(8)
    vals = rng.integers(0, 6, size=(160, 3)).astype(float)
    vals[::23, 1] = np.nan
    rows = [(i, i % 3, *map(float, v)) for i, v in enumerate(vals)]
    rows += [(1000 + i, r[1], *r[2:]) for i, r in enumerate(rows[:20])]
    rows.append((2000, 0, None, 0.0, 0.0))
    df = spark.createDataFrame(rows, "id int, g int, x double, y double, z double")
    # three keys hashed into seven partitions: at least four are empty
    df = df.repartition(7, "g")
    assert 0 in df.rdd.glom().map(len).collect()
    dims = [("x", "min"), ("y", "max"), ("z", "min")]

    kept = [r for r in rows if r[2] is not None]
    signed = np.array([(r[2], -r[3], r[4]) for r in kept])
    for n in (1, 3, 40):
        want = {r[0]: int(k) for r, k in zip(kept, layer_numbers(signed, n)) if k}
        got = {r["id"]: r["layer"] for r in skyline_layers(df, dims, n).collect()}
        assert got == want, n
    assert max(want.values()) < 40  # n = 40 is past the last layer


def test_layers_run_as_one_skyline(spark):
    """``skyline_layers`` is one twophase plan: calling it starts the
    same eager jobs as one ``skyline`` call at any depth, and its plan
    does not grow with the depth. Jobs are counted per job group with
    the status tracker."""
    rows = [(i, float(i % 13), float((i * 7) % 17)) for i in range(400)]
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(7)
    dims = [("x", "min"), ("y", "min")]
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(tag, call):
        sc.setJobGroup(tag, tag)
        try:
            out = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(tracker.getJobIdsForGroup(tag)), out

    def plan_len(out):
        return len(out._jdf.queryExecution().analyzed().toString())

    n_sky, _ = jobs("layers-skyline", lambda: skyline(df, dims))
    n2, out2 = jobs("layers-2", lambda: skyline_layers(df, dims, 2))
    assert n2 == n_sky
    n12, out12 = jobs("layers-12", lambda: skyline_layers(df, dims, 12))
    assert n12 == n_sky
    assert plan_len(out12) <= 1.2 * plan_len(out2)


def test_layers_keep_persisted_rdds_bounded(spark):
    """Every cache a ``skyline_layers`` call leaves behind is tracked, so
    repeated calls on distinct plans grow the session's persisted RDDs
    by at most the tracked FIFO's cap."""
    from skylinemapreducehadoop_spark.operators._cache import _PERSISTED_CAP

    rows = [(i, float(i % 7), float((i * 3) % 11)) for i in range(40)]
    base = spark.createDataFrame(rows, "id int, x double, y double")
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    for i in range(12):
        # a distinct filter per call: no call hits another call's cache
        skyline_layers(base.where(F.col("x") > -1.0 - i), [("x", "min"), ("y", "min")], 3).count()
    assert persisted().size() - before <= _PERSISTED_CAP


def test_empty_input(spark):
    df = spark.createDataFrame([], "id int, x double, y double")
    assert skyline(df, [("x", "min"), ("y", "min")]).count() == 0
    assert skyline(df, [("x", "min")], strategy="quadtree").count() == 0


def test_bad_args(spark):
    df = spark.createDataFrame([(1, 1.0)], "id int, x double")
    with pytest.raises(ValueError):
        skyline(df, [])
    with pytest.raises(ValueError):
        skyline(df, [("x", "up")])
    with pytest.raises(ValueError):
        skyline(df, [("x", "min")], strategy="wat")
    from skylinemapreducehadoop_spark.operators.reverse import dynamic_skyline, reverse_skyline

    missing = [("nope", "min")]
    for call in (
        lambda: skyline(df, missing),
        lambda: skyline_kband(df, missing, 2),
        lambda: skyline_by(df, "id", missing),
        lambda: skyline_layers(df, missing, 2),
        lambda: reverse_skyline(df, ["nope"], (1.0,)),
        lambda: dynamic_skyline(df, ["nope"], (1.0,)),
    ):
        with pytest.raises(ValueError, match="nope"):
            call()
    for op in (reverse_skyline, dynamic_skyline):
        with pytest.raises(ValueError, match="query_point"):
            op(df, ["x"], (1.0, 2.0))


def test_bigint_passthrough_bit_exact(spark):
    """Pass-through int64 columns above 2^53 must survive the kernel
    round-trip bit-exact (Arrow path; pandas would go through float64)."""
    big = (1 << 60) + 1
    rows = [(big, "a", 1.0, 1.0), (None, "a", 2.0, 2.0), (big + 3, "b", 0.5, 3.0)]
    df = spark.createDataFrame(rows, "payload long, g string, x double, y double")
    dims = [("x", "min"), ("y", "min")]
    for strat in ("twophase", "bruteforce", "quadtree"):
        got = sorted(
            (r["payload"] for r in skyline(df, dims, strategy=strat).collect()), key=str
        )
        assert got == [big, big + 3], strat
    grouped = sorted(
        (r["payload"] for r in skyline_by(df, "g", dims).collect()), key=str
    )
    assert grouped == [big, big + 3]


def test_quadtree_matches_on_skewed_groups(spark):
    # clustered data exercises non-trivial tree + replication paths
    import numpy as np

    rng = np.random.RandomState(0)
    a = rng.normal(0.2, 0.05, size=(500, 2))
    b = rng.normal(0.8, 0.05, size=(500, 2))
    pts = np.vstack([a, b]).clip(0, 1)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    dims = [("x", "min"), ("y", "min")]
    tp = _ids(skyline(df, dims))
    qt = _ids(skyline(df, dims, strategy="quadtree"))
    assert tp == qt
    # the derived granularity still splits this input into several cells
    _, _, tree = Q._profile_input(df, S.normalize_dims(dims))
    assert isinstance(tree, dict) and len(tree["ch"]) > 1


def test_kband_blocked_matches_broadcast_on_typed_dims(spark, monkeypatch, typed_points):
    """The blocked path reads dimensions from Arrow (timestamps as
    microseconds, decimals as floats) and must agree with the broadcast
    path and with a dominator-count oracle on the integer codes."""
    import numpy as np

    _, rows, df = typed_points
    dims = [("x", "min"), ("y", "max")]
    vals = np.array([[r[1], -r[2]] for r in rows])
    le = (vals[:, None, :] <= vals[None, :, :]).all(axis=2)
    lt = (vals[:, None, :] < vals[None, :, :]).any(axis=2)
    n_dom = (le & lt).sum(axis=0)
    k = 3
    want = sorted(r[0] for r, c in zip(rows, n_dom) if c < k)

    via_broadcast = _ids(skyline_kband(df, dims, k))
    monkeypatch.setattr(S, "_BROADCAST_ROWS", 0)
    monkeypatch.setattr(S, "_CAND_BLOCK_ROWS", 8)
    monkeypatch.setattr(S, "_DATA_BLOCK_ROWS", 64)
    blocked = _ids(skyline_kband(df, dims, k))
    assert blocked == via_broadcast == want
    assert len(want) > k


def test_strategies_match_oracle_on_typed_dims(spark, typed_points):
    """Every strategy, the blocked merge and the grouped skyline read
    timestamp, decimal, date and timestamp_ntz dimensions through one
    encoder and agree with a numpy oracle on the integer codes."""
    import numpy as np

    _, rows, df = typed_points
    dims = [("x", "min"), ("y", "max")]
    ids = np.array([r[0] for r in rows])
    vals = np.array([[r[1], -r[2]] for r in rows])

    def oracle(mask):
        v = vals[mask]
        le = (v[:, None, :] <= v[None, :, :]).all(axis=2)
        lt = (v[:, None, :] < v[None, :, :]).any(axis=2)
        return sorted(ids[mask][~(le & lt).any(axis=0)].tolist())

    want = oracle(np.ones(len(rows), dtype=bool))
    for opts in ({"strategy": "twophase"}, {"strategy": "bruteforce"}, {"strategy": "quadtree"}, {"merge": "blocked"}):
        assert _ids(skyline(df, dims, **opts)) == want, opts
    grouped = _ids(skyline_by(df.withColumn("g", F.col("id") % 3), "g", dims))
    assert grouped == sorted(i for g in range(3) for i in oracle(ids % 3 == g))
    assert len(want) > 1


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_signed_columns_equal_arrow_matrix_bitwise(spark, tz):
    """The Spark-side twin of the encoder yields the executor-side
    doubles bit for bit under any session time zone: a wall-clock NTZ
    value inside the 2024-03-10 New York DST gap and values before 1970
    included (int64 beyond 2^53 rounds, but identically on both sides)."""
    import decimal

    import numpy as np
    import pyarrow as pa

    utc = datetime.timezone.utc
    schema = "id int, i int, b bigint, f double, m decimal(12,2), d date, t timestamp, n timestamp_ntz"
    rows = [
        (0, 7, (1 << 53) + 1, -0.0, decimal.Decimal("1234567890.12"), datetime.date(2024, 3, 10),
         datetime.datetime(2024, 3, 10, 7, 30, 0, 123457, utc), datetime.datetime(2024, 3, 10, 2, 30, 0, 123457)),
        (1, -3, -(1 << 62) - 1, 0.0, decimal.Decimal("-0.05"), datetime.date(1969, 12, 31),
         datetime.datetime(1969, 12, 31, 23, 59, 59, 999999, utc), datetime.datetime(1969, 7, 20, 20, 17, 40, 1)),
        (2, 0, 0, 1e308, decimal.Decimal("0.10"), datetime.date(1900, 1, 1),
         datetime.datetime(1900, 1, 1, 0, 0, 0, 1, utc), datetime.datetime(1900, 1, 1, 23, 59, 59, 999999)),
        (3, 2**31 - 1, (1 << 53) - 1, 0.1, decimal.Decimal("9999999999.99"), datetime.date(2262, 4, 11),
         datetime.datetime(2024, 11, 3, 5, 30, 0, 5, utc), datetime.datetime(2024, 11, 3, 1, 30, 0, 999999)),
    ]
    cols = ["i", "b", "f", "m", "d", "t", "n"]
    dim_signs = [(c, 1.0 if j % 2 else -1.0) for j, c in enumerate(cols)] + [(c, 1.0) for c in cols]
    out = ", ".join(f"s{j} double" for j in range(len(dim_signs)))

    def encode(batches):
        for b in batches:
            m = S._arrow_matrix(b, dim_signs)
            yield pa.RecordBatch.from_arrays([b.column("id")] + list(m.T), ["id"] + [f"s{j}" for j in range(m.shape[1])])

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        df = spark.createDataFrame(rows, schema).repartition(2)
        jvm = sorted(df.select("id", *S._signed_columns(df.schema, dim_signs)).collect())
        py = sorted(df.mapInArrow(encode, f"id int, {out}").collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert [r[0] for r in jvm] == [r[0] for r in py] == [0, 1, 2, 3]
    jvm_vals = np.array([r[1:] for r in jvm], dtype=np.float64)
    py_vals = np.array([r[1:] for r in py], dtype=np.float64)
    assert (jvm_vals.view(np.int64) == py_vals.view(np.int64)).all()
    # the DST-gap NTZ value is its wall clock in epoch microseconds
    gap = datetime.datetime(2024, 3, 10, 2, 30, 0, 123457) - datetime.datetime(1970, 1, 1)
    assert py_vals[0, -1] == gap // datetime.timedelta(microseconds=1)
    assert np.signbit(py_vals[0, len(cols) + 2])  # -0.0 keeps its sign under "min"


def test_blocked_merge_equals_tree_on_special_values(spark, monkeypatch):
    """NaN, ±0.0, ±inf and full duplicates: the blocked merge verifies
    distinct vectors and semi-joins back, so it leans on Spark's
    distinct and join keys treating NaN as equal to NaN and -0.0 as
    equal to 0.0 — every copy must come back exactly as the tree merge
    keeps it."""
    import itertools
    import math

    inf, nan = float("inf"), float("nan")
    xs = [nan, -0.0, 0.0, 1.0, inf]
    ys = [nan, -inf, -0.0, 0.0, 1.0, inf]
    rows = [(i, x, y) for i, (x, y) in enumerate(itertools.product(xs, ys))]
    rows += rows[::3]  # full duplicates
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(6)
    monkeypatch.setattr(S, "_CAND_BLOCK_ROWS", 4)
    monkeypatch.setattr(S, "_DATA_BLOCK_ROWS", 8)
    for dims in ([("x", "min"), ("y", "min")], [("x", "min"), ("y", "max")]):
        tree = skyline(df, dims)
        blocked = skyline(df, dims, merge="blocked")
        assert blocked.columns == tree.columns == df.columns
        assert _ids(blocked) == _ids(tree)
        kept = blocked.collect()
        assert any(math.isnan(r["x"]) for r in kept)
        zeros = {math.copysign(1.0, r["x"]) for r in kept if r["x"] == 0.0}
        assert zeros == {-1.0, 1.0}, dims


def test_verify_operators_start_no_more_jobs(spark, monkeypatch):
    """Calling each operator runs only its sizing jobs eagerly. Jobs are
    counted per job group with the status tracker; the bounds are the
    counts of the per-operator verify code this shared path replaced."""
    from skylinemapreducehadoop_spark.operators.reverse import reverse_skyline

    n = 300
    rows = [(i, float(i % 150), float(149 - i % 150)) for i in range(n)]
    rows += [(1000 + i, float(i), float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "id int, x double, y double").repartition(7)
    dims = [("x", "min"), ("y", "min")]
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(tag, call):
        sc.setJobGroup(tag, tag)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(tracker.getJobIdsForGroup(tag))

    counts = {
        "kband_broadcast": jobs("kband-broadcast", lambda: skyline_kband(df, dims, 3)),
        "reverse_broadcast": jobs(
            "reverse-broadcast", lambda: reverse_skyline(df, ["x", "y"], (5.0, 5.0))
        ),
        "skyline_blocked": jobs("skyline-blocked", lambda: skyline(df, dims, merge="blocked")),
    }
    monkeypatch.setattr(S, "_BROADCAST_ROWS", 5)
    monkeypatch.setattr(S, "_CAND_BLOCK_ROWS", 64)
    monkeypatch.setattr(S, "_DATA_BLOCK_ROWS", 128)
    counts["kband_blocked"] = jobs("kband-blocked", lambda: skyline_kband(df, dims, 3))
    counts["reverse_blocked"] = jobs(
        "reverse-blocked", lambda: reverse_skyline(df, ["x", "y"], (5.0, 5.0))
    )
    # adaptive execution runs one job per query stage, so a sizing
    # action over a shuffle counts more than once
    bounds = {
        "kband_broadcast": 9,
        "reverse_broadcast": 12,
        "skyline_blocked": 3,
        "kband_blocked": 4,
        "reverse_blocked": 7,
    }
    assert all(counts[k] <= bounds[k] for k in bounds), counts
