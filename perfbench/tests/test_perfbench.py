"""Tests of the benchmark's own code: seeded generators, the oracle and
output check, the event-log fold, and BENCHMARK.json's metric names.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import filecmp
import json
import os

import numpy as np
import pytest

from perfbench import datasets, eventlog, oracle
from perfbench import run as bench
from perfbench import workloads

# ------------------------------------------------------------ generators


def _files(path: str) -> list[str]:
    return sorted(os.listdir(path))


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: datasets.points_table(datasets.anticorrelated(3000, 4, seed)),
        lambda seed: datasets.points_table(datasets.independent(3000, 6, seed)),
        lambda seed: datasets.lineitem_table(3000, seed),
    ],
    ids=["anticorrelated", "independent", "lineitem"],
)
def test_parquet_generators_are_byte_identical_per_seed(tmp_path, make):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        datasets.write_split_parquet(make(seed), str(tmp_path / name), 4)
    assert _files(tmp_path / "a") == [f"part-{k:05d}.parquet" for k in range(4)]
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", _files(tmp_path / "a"), shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", _files(tmp_path / "a"), shallow=False)
    assert mismatch, "another seed must give other bytes"


def test_gsod_workload_input_is_byte_identical_per_seed(tmp_path):
    paths = []
    for name in ("a", "b"):
        wl = workloads.GsodWorkload(str(tmp_path / name), seed=3, nproc=2)
        wl.rows = 500
        paths.append(wl.prepare().path)
    assert filecmp.cmp(paths[0], paths[1], shallow=False)


def test_anticorrelated_family_is_anticorrelated():
    x = datasets.anticorrelated(20_000, 4, 1)
    assert ((x >= 0) & (x <= 1)).all()
    corr = np.corrcoef(x, rowvar=False)[np.triu_indices(4, 1)]
    assert (corr < -0.2).all()


def test_preferences_reorder_one_skyline_query(tmp_path):
    wl = workloads.AnticorrWorkload(str(tmp_path), seed=1, nproc=2)
    prefs = [next(it) for it in [wl.preferences()] for _ in range(24)]
    assert len(set(prefs)) == 24  # 24 plans before one repeats
    assert {workloads.dims_key(p) for p in prefs} == {workloads.dims_key(wl.dims)}


def test_cached_rebuilds_on_key_change(tmp_path):
    calls = []
    build = lambda path: calls.append(path)  # noqa: E731
    a = datasets.cached(str(tmp_path), {"seed": 1}, build)
    assert datasets.cached(str(tmp_path), {"seed": 1}, build) == a
    datasets.cached(str(tmp_path), {"seed": 2}, build)
    assert len(calls) == 2


# ------------------------------------------------------------ oracle


def _brute_force(values: np.ndarray) -> np.ndarray:
    keep = []
    for i, q in enumerate(values):
        if np.isnan(q).any():
            continue
        if not any(
            (p <= q).all() and (p < q).any() for p in values if not np.isnan(p).any()
        ):
            keep.append(i)
    return np.array(keep, dtype=np.int64)


@pytest.mark.parametrize("seed", range(5))
def test_oracle_matches_pairwise_definition(seed):
    rng = np.random.default_rng(seed)
    x = rng.integers(0, 6, size=(300, 3)).astype(float)  # many ties and duplicates
    x[rng.random(300) < 0.05, 1] = np.nan
    np.testing.assert_array_equal(oracle.skyline_indices(x), _brute_force(x))


def test_gsod_parser_drops_header_blanks_and_sentinels(tmp_path):
    wl = workloads.GsodWorkload(str(tmp_path), seed=5, nproc=2)
    wl.rows = 450
    table = wl.prepare().table
    assert table.num_rows == 450  # header and blank lines dropped
    assert table.column("gust").null_count > 0  # 999.9 sentinels are NULL
    assert max(v for v in table.column("temp").to_pylist() if v is not None) < 9999.0


# ------------------------------------------------------------ event-log fold


def _events():
    props = {eventlog.GROUP_KEY: "p1"}
    sql = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"
    return [
        {"Event": sql + "Start", "executionId": 0, "time": 900, "jobGroupId": "p1"},
        {"Event": sql + "Start", "executionId": 1, "time": 4900, "jobGroupId": None},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1], "Properties": props},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500, "Stage IDs": [2], "Properties": props},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 700, "Disk Bytes Spilled": 1 << 20,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 << 20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 5000}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Number of Tasks": 1, "Submission Time": 1100, "Completion Time": 1400}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 6000},
        {"Event": sql + "End", "executionId": 0, "time": 2100},
        {"Event": sql + "End", "executionId": 1, "time": 6100},
    ]


def test_fold_groups_jobs_stages_and_tasks():
    phases = eventlog.fold(json.dumps(e) for e in _events())
    assert set(phases) == {"p1"}  # the ungrouped job and execution are ignored
    p = phases["p1"]
    assert p.wall_s == 1.6  # execution [0.9, 2.1] and jobs [1.0, 2.0], [1.5, 2.5]
    m = p.metrics(cores=2, entries=1)
    assert m["busy_s"] == 0.8 and m["tasks"] == 2 and m["failed_tasks"] == 1
    assert m["one_task_stages"] == 1 and m["one_task_s"] == 0.3
    assert m["shuffle_mb"] == 2.0 and m["spill_mb"] == 1.0
    assert m["parallel_eff"] == pytest.approx(0.8 / (1.6 * 2))


# ------------------------------------------------------------ with Spark


@pytest.fixture
def traced_spark(tmp_path):
    """A session writing an event log; the JVM outlives it, so later
    sessions in this process start quickly."""
    bench.configure_env(2)
    log_dir = str(tmp_path / "eventlog")
    spark = bench.start_session(2, event_log=log_dir)
    yield spark, log_dir
    spark.stop()


def _tiny_lineitem(tmp_path):
    wl = workloads.RepeatLineitemWorkload(str(tmp_path), seed=11, nproc=2)
    wl.rows = 6_000  # TPC-H sf0.001
    return wl, wl.prepare()


def test_output_check_catches_a_dropped_skyline_row(traced_spark, tmp_path):
    spark, _ = traced_spark
    wl, inputs = _tiny_lineitem(tmp_path)
    df = wl.read(spark, inputs)
    expected = bench.Expected(wl, inputs)
    loop = bench.Loop(wl, wl.preferences())
    loop.run(spark, df, seconds=0)
    assert loop.failures(spark, expected) == []

    from skylinemapreducehadoop_spark.operators.skyline import skyline

    result = wl.output(skyline(df, list(wl.dims)))
    planted = result.exceptAll(result.limit(1))  # one skyline row dropped
    row = planted.agg(*bench.check_exprs(planted.columns)).collect()[0]
    loop.checks.append((wl.dims, (row["n"], row["h"])))
    failures = loop.failures(spark, expected)
    assert len(failures) == 1 and "expected" in failures[0]


def test_event_log_fold_reports_labelled_phases(traced_spark, tmp_path):
    spark, log_dir = traced_spark
    wl, inputs = _tiny_lineitem(tmp_path)
    app_id = spark.sparkContext.applicationId
    tracer = bench.Tracer(spark.sparkContext)
    loop = bench.Loop(wl, wl.preferences())
    loop.run(spark, wl.read(spark, inputs), seconds=0, tracer=tracer)
    with tracer.phase(wl.source):
        wl.scan(spark, inputs)
    spark.stop()  # finishes the log

    phases = eventlog.fold_file(os.path.join(log_dir, app_id))
    assert set(phases) == {"operators.skyline.call", "operators.skyline.exec", "sources.tables.load_table"}
    for name, ph in phases.items():
        m = ph.metrics(cores=2, entries=tracer.entries[name])
        assert m["wall_s"] > 0 and m["tasks"] > 0 and m["failed_tasks"] == 0, name
        assert tracer.span_s[name] >= ph.wall_s - 0.05, name  # the span holds the phase's jobs
    # the eager local pass runs inside the call; the merge is one task
    assert phases["operators.skyline.exec"].one_task_stages >= 1


# ------------------------------------------------------------ BENCHMARK.json


def test_benchmark_json_names_the_metrics_the_runner_prints():
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
