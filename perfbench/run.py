"""Skyline benchmark: end-to-end query metrics, or a per-layer trace.

Usage, from the repository root::

    python3 perfbench/run.py --workload gsod-9d --seed 1 --seconds 12 --trace 0

and every workload, each in its own process::

    for w in gsod-9d anticorr-4d adhoc-quadtree repeat-lineitem; do
        python3 perfbench/run.py --workload $w --seed 1 --seconds 12; done

One run is one process driving a ``local[nproc]`` Spark session through
the engine's public calls. It generates (or reuses) the seed's input,
sets up the session several times, runs queries in a closed loop for
``--seconds`` and checks every query's output against an independent
numpy oracle (count and order-insensitive hash).

``--trace 0`` prints the end-to-end metrics: ``query_s.p50`` (call into
``skyline(...)`` until the result is written to the ``noop`` sink),
``rows_per_s``, ``setup_s`` and ``peak_rss_mb``. ``--trace 1`` first
repeats the untraced loop, then restarts the session with an event log,
labels every call into the engine with a Spark job group, and prints the
per-layer metrics: per-phase metrics folded from the event log, driver-
side timings of the kernel and quadtree functions, the share of query
wall time that labelled Spark jobs and SQL executions cover, and the
tracing overhead. The last stdout line is one JSON object; the lines before it
are a readable summary and a ``# record`` line with the run's
environment (nproc, seed, input size, versions).

``setup_s`` is the median of five set-ups, each a session, the input
read and one untimed query: the first starts the JVM and Spark context,
the others open a fresh session on it. ``peak_rss_mb`` is sampled
from ``/proc`` over the process tree (this process, the driver JVM and
its Python workers). The 1 GiB driver heap is fixed and pre-touched, so
the JVM's share is constant and the figure moves with Python worker and
off-heap memory, not with when the JVM happened to grow its heap.

Generated inputs, expected results, Spark scratch space and the event
logs live under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

#: set-ups per run: session start, input read and one untimed query
SETUPS = 5
#: a run's closed loop runs at least this many timed queries
MIN_QUERIES = 3
#: rows of the driver-side kernel batch (Spark's Arrow batch size)
BATCH_ROWS = 10_000
#: quadtree sample size (the engine's default ``sample_rows``)
SAMPLE_ROWS = 20_000

END_TO_END = {
    "query_s.p50": "s",
    "rows_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PHASES = (
    "sources.gsod.read_gsod",
    "sources.tables.load_table",
    "operators.skyline.call",
    "operators.skyline.exec",
    "operators.quadtree.call",
    "operators.quadtree.exec",
)
PHASE_METRICS = {
    "span_s": "s",
    "wall_s": "s",
    "busy_s": "s",
    "parallel_eff": "share",
    "tasks": "count",
    "one_task_stages": "count",
    "one_task_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "failed_tasks": "count",
}
DRIVER_METRICS = {
    "operators._kernel.skyline_mask.batch_s": "s",
    "operators._kernel.skyline_mask.batch_keep_share": "share",
    "operators._kernel.skyline_mask.merge_s": "s",
    "operators._kernel.skyline_mask.merge_rows": "count",
    "operators.quadtree.build_s": "s",
    "operators.quadtree.cells": "count",
    "operators.quadtree.pruned_cells": "count",
    "operators.quadtree.assign_s": "s",
    "operators.quadtree.pruned_row_share": "share",
    "operators._cache.cached_mb": "MB",
    "trace.phase_coverage": "share",
    "trace.overhead": "ratio",
}
PER_LAYER = {f"{p}.{m}": u for p in PHASES for m, u in PHASE_METRICS.items()} | DRIVER_METRICS


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(cores: int) -> None:
    """Process hygiene, before the JVM starts: parallelism pinned to the
    cores this process may use, the repository importable by Python
    workers, and every scratch file inside the work directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # a fixed, pre-touched 1 GiB driver heap keeps the process small and its RSS steady
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-memory 1g",
            "--conf",
            shlex.quote(f"spark.driver.extraJavaOptions=-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"),
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp


# ---------------------------------------------------------------- /proc


def _process_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out[int(name)] = (ppid, rss)
    return out


def descendants(pid: int, table=None) -> list[int]:
    table = table if table is not None else _process_table()
    children: dict[int, list[int]] = {}
    for p, (pp, _) in table.items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (driver JVM, Python workers) on a background thread."""

    interval = 0.1  # seconds between samples

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        table = _process_table()
        me = os.getpid()
        total = sum(table[p][1] for p in [me, *descendants(me, table)] if p in table)
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# ---------------------------------------------------------------- session


def start_session(cores: int, event_log: str | None = None):
    from skylinemapreducehadoop_spark.session import get_session

    conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_session("perfbench", master=f"local[{cores}]", extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    kids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, 9)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------- queries


def check_exprs(cols):
    """Row count and an order-insensitive hash of a result's rows."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ]


class Tracer:
    """Labels calls into the engine with Spark job groups (phases), counts
    how often each phase was entered and sums its driver wall time (its
    span), which also holds what the event log cannot see: planning and
    Python work outside any Spark job or SQL execution."""

    def __init__(self, sc):
        self.sc = sc
        self.entries: dict[str, int] = {}
        self.span_s: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        self.entries[name] = self.entries.get(name, 0) + 1
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.span_s[name] = self.span_s.get(name, 0.0) + time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


@contextmanager
def _untraced(name: str):
    yield


def layer_of(strategy: str) -> str:
    return "operators.quadtree" if strategy == "quadtree" else "operators.skyline"


def run_query(wl, df, dims, tracer: Tracer | None = None, strategy: str | None = None):
    """One query: ``skyline(...)`` then the noop write; returns
    (seconds, (rows, hash)) with the check observed in the same job."""
    from pyspark.sql import Observation

    from skylinemapreducehadoop_spark.operators.skyline import skyline

    strategy = strategy or wl.strategy
    phase = tracer.phase if tracer else _untraced
    layer = layer_of(strategy)
    obs = Observation()
    t0 = time.perf_counter()
    with phase(layer + ".call"):
        result = wl.output(skyline(df, list(dims), strategy=strategy))
    with phase(layer + ".exec"):
        result.observe(obs, *check_exprs(result.columns)).write.format("noop").mode(
            "overwrite"
        ).save()
    elapsed = time.perf_counter() - t0
    got = obs.get
    return elapsed, (got["n"], got["h"])


class Loop:
    """A closed loop of timed queries with their output checks."""

    def __init__(self, wl, prefs):
        self.wl = wl
        self.prefs = prefs
        self.times: list[float] = []
        self.checks: list[tuple[tuple, object]] = []  # (dims, (n, h) or error)
        self.cached_mb: list[float] = []

    def run(self, spark, df, seconds: float, tracer: Tracer | None = None) -> None:
        t_start = time.perf_counter()
        while len(self.times) < MIN_QUERIES or time.perf_counter() - t_start < seconds:
            elapsed = self.query(spark, df, next(self.prefs), tracer)
            if elapsed is not None:
                self.times.append(elapsed)
            if tracer is not None:
                self.cached_mb.append(cached_mb(spark))

    def query(self, spark, df, dims, tracer: Tracer | None = None, strategy: str | None = None):
        """One checked query; its seconds, or None if it raised."""
        if self.wl.cold:
            spark.catalog.clearCache()
        try:
            elapsed, got = run_query(self.wl, df, dims, tracer, strategy)
        except Exception as e:  # noqa: BLE001 -- a failed query is counted, not fatal
            self.checks.append((dims, f"{type(e).__name__}: {e}"))
            return None
        self.checks.append((dims, got))
        return elapsed

    def failures(self, spark, expected) -> list[str]:
        out = []
        for dims, got in self.checks:
            want = expected(spark, dims)
            if got != want:
                out.append(f"{list(dims)}: got {got}, expected {want}")
        return out


def cached_mb(spark) -> float:
    """Spark storage memory (and disk) held by persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / float(1 << 20)


class Expected:
    """Expected (count, hash) per preference, from the oracle's rows."""

    def __init__(self, wl, inputs):
        self.wl, self.inputs = wl, inputs
        self.memo: dict[str, tuple] = {}

    def __call__(self, spark, dims):
        from perfbench.workloads import dims_key

        key = dims_key(dims)
        if key not in self.memo:
            path = self.wl.expected(self.inputs, dims)
            table = spark.read.parquet(path)
            row = table.agg(*check_exprs(table.columns)).collect()[0]
            self.memo[key] = (row["n"], row["h"])
        return self.memo[key]


# ---------------------------------------------------------------- layers


def _leaves(tree) -> tuple[int, int]:
    """(cells, pruned cells) of an engine quadtree."""
    if isinstance(tree, dict):
        sub = [_leaves(c) for c in tree["ch"].values()]
        return sum(s[0] for s in sub), sum(s[1] for s in sub)
    return 1, int(tree == "P")


def driver_layers(wl, inputs, dims, seed: int, cores: int) -> dict[str, float]:
    """Time the engine's kernel and quadtree functions on the driver,
    on this workload's own rows and first preference."""
    import numpy as np

    from perfbench.workloads import dims_matrix
    from skylinemapreducehadoop_spark.operators._kernel import skyline_mask
    from skylinemapreducehadoop_spark.operators.quadtree import (
        assign_cells,
        build_tree,
        prune_tree,
    )

    x = dims_matrix(inputs.table, dims)
    x = x[~np.isnan(x).any(axis=1)]
    out: dict[str, float] = {}

    batch = x[:BATCH_ROWS]
    t0 = time.perf_counter()
    keep = skyline_mask(batch)
    out["operators._kernel.skyline_mask.batch_s"] = time.perf_counter() - t0
    out["operators._kernel.skyline_mask.batch_keep_share"] = float(keep.mean())

    # the merge's input: one local skyline per partition-sized slice
    stacked = np.concatenate(
        [s[skyline_mask(s)] for s in np.array_split(x, cores) if len(s)]
    )
    t0 = time.perf_counter()
    skyline_mask(stacked)
    out["operators._kernel.skyline_mask.merge_s"] = time.perf_counter() - t0
    out["operators._kernel.skyline_mask.merge_rows"] = float(len(stacked))

    rng = np.random.default_rng(seed)
    sample = x[rng.choice(len(x), size=min(SAMPLE_ROWS, len(x)), replace=False)]
    lo, hi = x.min(axis=0), x.max(axis=0)
    maxp = max(16, len(sample) // (4 * cores))
    t0 = time.perf_counter()
    tree = build_tree(sample, lo, hi, maxp)
    prune_tree(tree, lo, hi, sample[skyline_mask(sample)])
    out["operators.quadtree.build_s"] = time.perf_counter() - t0
    cells, pruned = _leaves(tree)
    out["operators.quadtree.cells"] = float(cells)
    out["operators.quadtree.pruned_cells"] = float(pruned)
    t0 = time.perf_counter()
    assigned = assign_cells(x, tree)
    out["operators.quadtree.assign_s"] = time.perf_counter() - t0
    out["operators.quadtree.pruned_row_share"] = float(np.mean([c is None for c in assigned]))
    return out


# ---------------------------------------------------------------- main


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import skylinemapreducehadoop_spark.operators.skyline  # noqa: F401
        from perfbench.workloads import WORKLOADS
        from tools.envinfo import env_fingerprint
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = nproc()
    configure_env(cores)

    wl = WORKLOADS[args.workload](WORK, args.seed, cores)
    inputs = wl.prepare()
    prefs = wl.preferences()
    spark = None
    try:
        setups = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            # the first set-up starts the JVM and Spark context; later ones
            # open a fresh session on that context
            spark = start_session(cores) if spark is None else spark.newSession()
            if wl.cold:
                spark.catalog.clearCache()
            df = wl.read(spark, inputs)
            run_query(wl, df, next(prefs))
            setups.append(time.perf_counter() - t0)

        loop = Loop(wl, prefs)
        with PeakRss() as rss:
            loop.run(spark, df, args.seconds)
        expected = Expected(wl, inputs)
        failures = loop.failures(spark, expected)
        attempted = len(loop.checks)
        e2e = {
            "query_s.p50": median(loop.times),
            "rows_per_s": inputs.table.num_rows * len(loop.times) / sum(loop.times),
            "setup_s": median(setups),
            "peak_rss_mb": rss.peak / float(1 << 20),
        }
        record = {
            "workload": wl.name,
            "seed": args.seed,
            "nproc": cores,
            "input_rows": inputs.table.num_rows,
            "queries": len(loop.times),
            "query_s": loop.times,
            "setup_s": setups,
            "failed_share": len(failures) / attempted,
            "env": env_fingerprint(spark),
        }
        metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}

        if args.trace:
            per_layer, traced_failures, traced_attempts = trace_run(
                wl, inputs, prefs, spark, cores, args, expected, e2e["query_s.p50"]
            )
            spark = None
            failures += traced_failures
            attempted += traced_attempts
            metrics = {k: (per_layer[k], PER_LAYER[k]) for k in PER_LAYER}
    finally:
        shutdown(spark)

    for f in failures:
        print(f"FAILED {f}")
    print(f"# record {json.dumps(record, default=str)}")
    for k, (v, unit) in metrics.items():
        print(f"{wl.name:16s} {k:52s} {v:14.6g} {unit}")
    print(f"{wl.name:16s} {'failed_share':52s} {len(failures) / attempted:14.6g} share")
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def trace_run(wl, inputs, prefs, spark, cores, args, expected, untraced_p50):
    """Restart the session with an event log, run the labelled loop,
    fold the log into per-phase metrics and add the driver timings.
    Stops the session it starts."""
    from perfbench import eventlog

    log_dir = os.path.join(WORK, "eventlog")
    spark.stop()
    spark = start_session(cores, event_log=log_dir)
    try:
        app_id = spark.sparkContext.applicationId
        df = wl.read(spark, inputs)
        run_query(wl, df, next(prefs))  # unlabelled warm-up
        tracer = Tracer(spark.sparkContext)
        loop = Loop(wl, prefs)
        loop.run(spark, df, args.seconds, tracer)
        if wl.strategy != "quadtree":
            # the quadtree layer, on this workload's input and preference
            loop.query(spark, df, wl.first_dims(), tracer, "quadtree")
        with tracer.phase(wl.source):
            wl.scan(spark, inputs)
        failures = loop.failures(spark, expected)
    finally:
        spark.stop()
    phases = eventlog.fold_file(os.path.join(log_dir, app_id))

    out: dict[str, float] = {}
    for name in PHASES:
        ph = phases.get(name, eventlog.Phase())
        entries = tracer.entries.get(name, 0)
        for m, v in ph.metrics(cores, entries).items():
            out[f"{name}.{m}"] = v
        out[f"{name}.span_s"] = tracer.span_s.get(name, 0.0) / max(entries, 1)
    layer = layer_of(wl.strategy)
    covered = sum(phases.get(f"{layer}.{p}", eventlog.Phase()).wall_s for p in ("call", "exec"))
    out["trace.phase_coverage"] = covered / sum(loop.times)
    out["trace.overhead"] = median(loop.times) / untraced_p50
    out["operators._cache.cached_mb"] = median(loop.cached_mb)
    out |= driver_layers(wl, inputs, wl.first_dims(), args.seed, cores)
    return out, failures, len(loop.checks)


if __name__ == "__main__":
    sys.exit(main())
