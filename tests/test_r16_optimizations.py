"""Focused tests for the r16 optimization internals.

Each test pins a seam an optimization introduced:

1. ``_cache.scan_partitions`` — the format-aware effective-parallelism
   gate: byte-range-splittable text reports planned splits; parquet is
   bounded by file count (a planned split without a row group carries
   no rows, so trusting the planner would skip a needed fan-out).
2. ``hist_merge``/``cm_merge`` after the posexplode_outer rewrite —
   NULL sketches still drop, and an ALL-ZERO sketch still keeps its
   group (the two edge behaviors the implicit non-outer Generate filter
   used to provide).
3. ``hist_quantile_edge`` after the seed-target rewrite — the rank
   target lives in the fold seed; quantile edges must match a
   brute-force rank walk including the exact-boundary case.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def test_scan_partitions_text_vs_parquet(spark, tmp_path):
    from skylinemapreducehadoop_spark.operators._cache import scan_partitions

    par = spark.sparkContext.defaultParallelism

    # one wide text file: when the planner splits it by byte ranges
    # (maxPartitionBytes below the file size — at real scale any file
    # over 128 MB), scan_partitions must report MORE than the file
    # count (the gate then skips the redundant fan-out exchange)
    # must exceed a couple of multiples of files.openCostInBytes (4 MB)
    # for the planner to carve more than one byte-range split
    txt = tmp_path / "wide.txt"
    txt.write_text("linelineline\n" * 1_000_000)  # ~13 MB
    old = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(5 << 20))
    try:
        t = spark.read.text(str(txt))
        n_text = scan_partitions(t)
        assert n_text > 1, n_text
    finally:
        if old is None:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        else:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    # one single-row-group parquet file: regardless of how many byte
    # ranges the planner carves, only one carries the row group — the
    # honest bound is the FILE count, so the fan-out gate still fires
    pq = tmp_path / "one.parquet"
    spark.range(0, 1000, 1, 1).write.parquet(str(pq))
    p = spark.read.parquet(str(pq))
    n_files = len(p.inputFiles())
    assert scan_partitions(p) == n_files

    # non-file-backed frames report "already parallel" (gate no-ops)
    mem = spark.createDataFrame([(1,)], "a int")
    assert scan_partitions(mem) == par


def test_scan_partitions_starts_no_job(spark, tmp_path):
    """Over a plan holding an exchange, ``df.rdd`` makes adaptive
    execution run the upstream stage; scan_partitions must read the
    planned width instead, so no job runs across the call."""
    from skylinemapreducehadoop_spark.operators._cache import scan_partitions

    txt = tmp_path / "lines.txt"
    txt.write_text("a\nb\nc\n" * 100)
    text = spark.read.text(str(txt))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cases = [
        (text, 1),  # no exchange: the planned scan split count
        (text.repartition(3), 3),  # explicit width, never coalesced
        # an exchange AQE may coalesce, even above an explicit one: the file count
        (text.groupBy("value").count(), 1),
        (text.repartition(3).groupBy("value").count(), 1),
    ]
    for k, (df, want) in enumerate(cases):
        group = f"scan-partitions-probe-{k}"
        sc.setJobGroup(group, group)
        try:
            got = scan_partitions(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert tracker.getJobIdsForGroup(group) == [], k
        assert got == want, (k, got)


def test_hist_merge_null_and_all_zero_sketches(spark):
    from skylinemapreducehadoop_spark.operators.sketches import hist_merge

    rows = [
        ("a", [1, 0, 2, 0]),   # normal
        ("a", [0, 0, 0, 0]),   # all-zero: must still contribute (no-op sum)
        ("b", [0, 0, 0, 0]),   # group with ONLY an all-zero sketch: must survive
        ("c", None),           # NULL sketch: must drop (c has no other rows)
    ]
    df = spark.createDataFrame(rows, "g string, hist array<long>")
    got = {r["g"]: r["hist"] for r in hist_merge(df, ["g"], bins=4).collect()}
    assert got["a"] == [1, 0, 2, 0]
    assert got["b"] == [0, 0, 0, 0]
    assert "c" not in got


def test_cm_merge_null_sketch_drops(spark):
    from skylinemapreducehadoop_spark.operators.sketches import cm_merge

    rows = [("a", [5] * 8), ("a", [1] * 8), ("b", None)]
    df = spark.createDataFrame(rows, "g string, cm array<long>")
    got = {r["g"]: r["cm"] for r in cm_merge(df, ["g"], width=4, depth=2).collect()}
    assert got["a"] == [6] * 8
    assert "b" not in got


def test_hist_quantile_edge_seed_target_boundaries(spark):
    from skylinemapreducehadoop_spark.operators.sketches import hist_quantile_edge

    # hist [3, 0, 2, 5]: n=10; p50 rank=5 -> bucket 2 (run 3,3,5);
    # p90 rank=9 -> bucket 3; p10 rank=1 -> bucket 0; exact-boundary
    # q=3/10 rank=3 -> bucket 0 (run hits 3 exactly at bucket 0)
    df = spark.createDataFrame([([3, 0, 2, 5],)], "hist array<long>")
    out = df.select(
        hist_quantile_edge("hist", 1, 2, lo=0, bin_width=10).alias("p50"),
        hist_quantile_edge("hist", 9, 10, lo=0, bin_width=10).alias("p90"),
        hist_quantile_edge("hist", 1, 10, lo=0, bin_width=10).alias("p10"),
        hist_quantile_edge("hist", 3, 10, lo=0, bin_width=10).alias("p30"),
    ).collect()[0]
    assert out["p50"] == 20
    assert out["p90"] == 30
    assert out["p10"] == 0
    assert out["p30"] == 0


def test_winnow_prefilter_equivalence(spark):
    """size(winnow_fingerprints(text)) > 0  <=>  size(tokens(text)) >= gram_k —
    the equivalence the r16 cheap pre-filter in the
    winnow_fingerprints_documents entry rests on, across the edge shapes."""
    from skylinemapreducehadoop_spark.functions.text import (
        tokens,
        winnow_fingerprints,
    )

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "one"),
        (5, "one two"),
        (6, "one two three"),
        (7, "a b c d e f g h"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = df.select(
        "id",
        (F.size(winnow_fingerprints("text", gram_k=3, window=4)) > 0).alias("fp"),
        (F.size(tokens("text")) >= 3).alias("tok"),
    ).collect()
    for r in got:
        lhs = bool(r["fp"]) if r["fp"] is not None else False
        rhs = bool(r["tok"]) if r["tok"] is not None else False
        assert lhs == rhs, r


def test_global_row_number_grouped_matches_window(spark):
    """The r17 grouped prefix-sum rank must equal a plain per-group
    row_number window on every row, including groups that span range
    partitions and the empty-input edge."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from skylinemapreducehadoop_spark.operators.stats import (
        global_row_number_grouped,
    )

    df = spark.range(0, 997).select(
        (F.col("id") % 3).cast("int").alias("g"),
        ((F.col("id") * 37) % 101).alias("v"),
        F.col("id").alias("tid"),
    )
    got = global_row_number_grouped(
        df, "g", [F.asc("v"), F.asc("tid")], out_col="rn", num_partitions=7
    )
    want = df.withColumn(
        "rn_w",
        F.row_number().over(Window.partitionBy("g").orderBy("v", "tid")),
    )
    joined = got.join(want, ["g", "v", "tid"])
    assert joined.where(F.col("rn") != F.col("rn_w")).count() == 0
    assert got.count() == 997

    empty = df.where(F.lit(False))
    assert (
        global_row_number_grouped(
            empty, "g", [F.asc("v"), F.asc("tid")], out_col="rn"
        ).count()
        == 0
    )
