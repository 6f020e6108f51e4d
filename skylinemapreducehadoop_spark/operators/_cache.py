"""Bounded per-session registry of persisted intermediate frames.

Several operators materialize a small intermediate that their plan
consumes more than once (a local-skyline union, a distinct edge set, a
degree table). ``persist_tracked`` persists it and tracks the handle in
a bounded FIFO so a long-lived session running many queries does not
accumulate cached frames forever.

Eviction semantics: unpersisting beyond the cap only costs a SILENT
RECOMPUTE if an evicted frame (or a returned plan built on it) is
re-executed later — results stay correct. The lock makes register/evict
safe under concurrent query construction.

Nothing here caches *across* invocations: every query invocation builds
and persists its own frames from the source tables.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []
_PERSISTED_CAP = 8
_PERSISTED_LOCK = threading.Lock()


#: formats whose minimum scan split is a row group, not a byte range —
#: planned split count can exceed the number of NON-EMPTY splits, so
#: file count is the honest parallelism bound
_ROW_GROUP_SUFFIXES = (".parquet", ".orc")


def scan_partitions(df: DataFrame) -> int:
    """Effective parallelism of the PLANNED scan of ``df`` — the honest
    input to a "fan out before CPU-bound kernel work" gate.

    Line-splittable sources (text/csv/json) scan as byte-range splits,
    so ``inputFiles()`` undercounts them (a single large text file
    splits wide under ``spark.sql.files.minPartitionNum`` /
    ``maxPartitionBytes``) and the planned partition count is truthful.
    Row-group formats (parquet/orc) can PLAN more splits than carry
    rows (a single-row-group file yields one non-empty split no matter
    how many byte ranges were planned), so the file count bounds their
    real parallelism. Non-file-backed frames report "already parallel"
    so the gate no-ops (createDataFrame input is parallelized by
    Spark). No Spark job runs (see ``_planned_partitions``).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001
        return par
    if not files:
        return par
    if all(f.rstrip("/").lower().endswith(_ROW_GROUP_SUFFIXES) for f in files):
        return len(files)
    try:
        planned = _planned_partitions(df, len(files))
    except Exception:  # noqa: BLE001
        return par
    # extension-less data files (external/lake layouts) may still be a
    # row-group format whose planned byte-range splits overcount real
    # parallelism; unless the files are RECOGNIZABLY line-splittable,
    # bound by the file count so the fan-out gate errs toward firing
    # (an extra exchange, never a missed one) — ADVICE r16
    _TEXT_SUFFIXES = (".txt", ".csv", ".tsv", ".json", ".jsonl", ".text")
    if all(f.rstrip("/").lower().endswith(_TEXT_SUFFIXES) for f in files):
        return planned
    return min(len(files), planned)


def _planned_partitions(df: DataFrame, n_files: int) -> int:
    """Planned partition count of ``df``, read without starting a job.

    ``df.rdd`` is plan-time metadata only while the plan is not
    adaptive: once it holds an exchange, adaptive query execution runs
    the upstream stages to settle the final plan (a whole text-read
    stage per call). An adaptive plan is read from its prepared initial
    plan instead. Only an explicit ``repartition(n)`` (round-robin,
    which AQE never coalesces) states its final width there; any other
    exchange (an aggregate's, a join's, ``repartition(col)``) may still
    be coalesced at run time, so it reports the file count, the same
    bound as extension-less files: the gate errs toward fanning out.
    """
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() != "AdaptiveSparkPlan":
        return df.rdd.getNumPartitions()
    part = plan.initialPlan().outputPartitioning()
    if part.getClass().getSimpleName() == "RoundRobinPartitioning":
        return part.numPartitions()
    return n_files


def persist_tracked(df: DataFrame) -> DataFrame:
    df = df.persist()
    with _PERSISTED_LOCK:
        _PERSISTED.append(df)
        evicted = []
        while len(_PERSISTED) > _PERSISTED_CAP:
            evicted.append(_PERSISTED.pop(0))
    for old in evicted:
        try:
            old.unpersist(blocking=False)
        except Exception:  # noqa: BLE001
            pass
    return df
