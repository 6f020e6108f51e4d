"""Distributed skyline (Pareto-optimal set) operator.

Re-expresses the reference engine's three-job MapReduce pipeline
(``/root/reference/Skyline.java``, ``LSkyMapper.java``, ``LSkyReducer.java``,
``GlobalSkyline.java``) as a composable PySpark DataFrame operator.

Physical plan (strategy="twophase", the default):

1. **Local pass** — ``mapInPandas`` computes a per-partition skyline.
   This is the Spark analogue of the reference's combiner-equals-reducer
   trick (``/root/reference/Skyline.java:408``): it is correct because
   ``skyline(skyline(A) ∪ skyline(B)) == skyline(A ∪ B)`` for any
   partitioning of the input (the combiner law). On 100 TB this is the
   map-side reduction that makes the shuffle tiny: each of the ~N scan
   partitions emits only its Pareto set.
2. **Merge pass(es)** — the union of local skylines is re-partitioned
   down (optionally through intermediate tree-reduction levels) and the
   same kernel runs again; the last level is a single partition, which
   replaces the reference's hard-coded single reducer
   (``/root/reference/Skyline.java:414``) but only ever sees
   already-reduced data.

strategy="quadtree" routes to the dominance-aware quadtree partitioner
(see ``operators/quadtree.py``), the reference's actual contribution:
data-space cells prune provably-dominated regions *before* the local
pass and bound the merge fan-in.

Null semantics: rows with NULL in any skyline dimension are excluded
(documented engine semantics; the reference would corrupt on its
missing-value sentinels — SURVEY.md §1.2). The null filter is applied
Spark-side with ``dropna`` so Catalyst pushes IsNotNull into the scan.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skylinemapreducehadoop_spark.operators._kernel import dominance_matrix, skyline_mask

DimSpec = Sequence[tuple[str, str]]


def _drop_null_dims(df: DataFrame, dim_cols: Sequence[str]) -> DataFrame:
    """All-dims-non-null filter as an AND of per-column IsNotNull.

    ``dropna(subset=...)`` compiles to ``atleastnnonnulls(n, ...)``,
    which parquet cannot push; the explicit conjunction reaches the
    scan as PushedFilters (verified in the formatted plan).
    """
    cond = F.lit(True)
    for c in dim_cols:
        cond = cond & F.col(c).isNotNull()
    return df.where(cond)

_VALID_DIRECTIONS = {"min", "max"}


def normalize_dims(dims: DimSpec) -> list[tuple[str, float]]:
    """Validate a dims spec into (column, sign) pairs.

    ``sign`` is +1.0 for minimize, -1.0 for maximize — the same
    direction-normalization trick as the reference's ``value_type``
    multiplier (``/root/reference/Skyline.java:31``,
    ``/root/reference/Point.java:29``): after multiplying, all dominance
    is uniformly MIN-dominance.
    """
    out: list[tuple[str, float]] = []
    if not dims:
        raise ValueError("dims must be a non-empty sequence of (column, 'min'|'max')")
    for col, direction in dims:
        if direction not in _VALID_DIRECTIONS:
            raise ValueError(f"direction for {col!r} must be 'min' or 'max', got {direction!r}")
        out.append((col, 1.0 if direction == "min" else -1.0))
    return out


def _values_matrix(pdf: pd.DataFrame, dim_signs: list[tuple[str, float]]) -> np.ndarray:
    """Extract the (n, d) min-normalized float matrix from a pandas frame.

    Timestamps/dates compare by their integer epoch representation;
    everything else is cast to float64.
    """
    n = len(pdf)
    arr = np.empty((n, len(dim_signs)), dtype=np.float64)
    for j, (col, sign) in enumerate(dim_signs):
        s = pdf[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            vals = s.astype("int64").to_numpy(dtype=np.float64)
        else:
            vals = s.to_numpy(dtype=np.float64, na_value=np.nan)
        arr[:, j] = sign * vals
    return arr


def _arrow_matrix(tbl: "pa.Table", dim_signs: list[tuple[str, float]]) -> np.ndarray:
    """(n, d) min-normalized matrix straight from Arrow columns — no
    pandas conversion, so non-dimension columns are never touched and
    int64 values survive bit-exact (pandas would round-trip nullable
    ints through float64, corrupting values above 2^53)."""
    n = tbl.num_rows
    arr = np.empty((n, len(dim_signs)), dtype=np.float64)
    for j, (col, sign) in enumerate(dim_signs):
        c = tbl.column(col)
        if pa.types.is_timestamp(c.type) or pa.types.is_date(c.type):
            c = c.cast(pa.int64())
        vals = c.to_numpy(zero_copy_only=False).astype(np.float64)
        arr[:, j] = sign * vals
    return arr


def _arrow_skyline(tbl: "pa.Table", dim_signs: list[tuple[str, float]]) -> "pa.Table":
    """Skyline of one in-memory Arrow table (dims already non-null)."""
    if tbl.num_rows == 0:
        return tbl
    mask = skyline_mask(_arrow_matrix(tbl, dim_signs))
    return tbl.filter(pa.array(mask))


def pandas_skyline(pdf: pd.DataFrame, dim_signs: list[tuple[str, float]]) -> pd.DataFrame:
    """Skyline of one in-memory pandas frame (rows with NULL dims dropped)."""
    if len(pdf) == 0:
        return pdf
    cols = [c for c, _ in dim_signs]
    pdf = pdf.dropna(subset=cols)
    if len(pdf) == 0:
        return pdf
    mask = skyline_mask(_values_matrix(pdf, dim_signs))
    return pdf.loc[mask]


def _partition_skyline_fn(dim_signs: list[tuple[str, float]]):
    """mapInArrow function: incremental skyline over the partition's batches.

    Keeps a running skyline across Arrow batches so memory stays bounded
    by the partition's Pareto set, not the partition. Pure Arrow:
    pass-through columns are never converted to pandas dtypes.
    """

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: pa.Table | None = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            combined = pa.concat_tables([acc, tbl]) if acc is not None else tbl
            acc = _arrow_skyline(combined, dim_signs)
        if acc is not None and acc.num_rows:
            yield from acc.combine_chunks().to_batches()

    return fn


#: rows one merge task handles comfortably (vectorized SFS kernel)
_MERGE_BATCH_ROWS = 1_000_000
#: upstream partitions absorbed per task at each extra tree level
_MERGE_FAN_IN = 16

# bounded registry of per-query persisted frames — shared by every
# operator that materializes a multiply-consumed intermediate (see
# operators/_cache.py for the eviction semantics)
from skylinemapreducehadoop_spark.operators._cache import (
    persist_tracked as _persist_tracked,
)


def skyline(
    df: DataFrame,
    dims: DimSpec,
    *,
    strategy: str = "twophase",
    merge_batch_rows: int = _MERGE_BATCH_ROWS,
    merge: str = "tree",
    blocked_rows: int = 65_536,
    quadtree_opts: dict | None = None,
) -> DataFrame:
    """Pareto-optimal rows of ``df`` under per-dimension min/max directions.

    dims: sequence of ``(column, 'min'|'max')`` — the engine's query knob,
    mirroring the reference's per-dimension ``value_type`` directions.

    strategy:
      - ``"twophase"`` (default): per-partition local skyline then
        tree-reduced global merge. Correct at any scale; merge fan-in is
        the sum of per-partition skyline sizes.
      - ``"quadtree"``: dominance-aware data-space partitioning with
        provable cell pruning before the local pass (the reference's
        L-SKY-MR / G-SKY-MR design, re-expressed).
      - ``"bruteforce"``: single-partition single-pass kernel; test oracle
        for small inputs only.

    merge (twophase only):
      - ``"tree"`` (default): tree-reduce to ONE final partition. Right
        whenever the global Pareto set fits one task (the overwhelmingly
        common case — the tree guard bounds fan-in automatically).
      - ``"blocked"``: fully distributed block-nested verification — NO
        single-partition stage anywhere, so even a Pareto set far larger
        than one task's memory works. Candidates are hashed into B
        blocks (B = ceil(|candidates| / blocked_rows)); every (i, j)
        block pair is checked in its own task via cogroup, and a row
        survives iff no block dominates it. Costs a B-way replication
        shuffle — opt in for anti-correlated data at extreme scale.

    NOTE (declarative-API caveat): CALLING this function runs one Spark
    job eagerly for BOTH merge modes — the local pass is persisted and
    counted so the auto guard can size its merge levels (tree) or its
    block count (blocked) from the measured candidate count; the count
    job fills the cache the merge plan then reuses, so the kernel runs
    once.
    """
    dim_signs = normalize_dims(dims)
    dim_cols = [c for c, _ in dim_signs]
    missing = [c for c in dim_cols if c not in df.columns]
    if missing:
        raise ValueError(f"skyline dims not in DataFrame: {missing}")

    clean = _drop_null_dims(df, dim_cols)
    fn = _partition_skyline_fn(dim_signs)

    if strategy == "bruteforce":
        return clean.repartition(1).mapInArrow(fn, df.schema)

    if strategy == "quadtree":
        from skylinemapreducehadoop_spark.operators.quadtree import quadtree_skyline

        return quadtree_skyline(clean, dim_signs, **(quadtree_opts or {}))

    if strategy != "twophase":
        raise ValueError(f"unknown strategy {strategy!r}")

    # The local pass is CPU-bound kernel work: if the PLANNED scan has
    # fewer partitions than cores (small files / single unsplittable
    # parquet), fan out first. Splittable sources (text under
    # minPartitionNum) already scan wide — skip the redundant exchange.
    # At cluster scale input splits >> cores and this no-ops.
    from skylinemapreducehadoop_spark.operators._cache import scan_partitions

    sc = df.sparkSession.sparkContext
    if 0 < scan_partitions(clean) < sc.defaultParallelism:
        clean = clean.repartition(sc.defaultParallelism)
    local = clean.mapInArrow(fn, df.schema)

    if merge == "blocked":
        return _blocked_merge(local, dim_signs, blocked_rows)
    if merge != "tree":
        raise ValueError(f"unknown merge {merge!r}")

    # Tree-reduce the union of local skylines down to one partition.
    # The final merge MUST be a single partition (global dominance needs
    # every surviving candidate in one place — the reference's single
    # reducer, /root/reference/Skyline.java:414), but on anti-correlated
    # data the union of local skylines can be huge, so intermediate
    # levels bound each merge task's fan-in.
    # auto guard: materialize the (small) local skyline once and
    # measure it; widths then cap rows-per-merge-task. The persist
    # means the local pass is not recomputed by the merge.
    local = _persist_tracked(local)
    n_local = local.count()
    widths: list[int] = []
    w = -(-n_local // merge_batch_rows)  # ceil
    while w > 1:
        widths.append(int(w))
        w = -(-w // _MERGE_FAN_IN)

    current = local
    for w in widths:
        current = current.repartition(w).mapInArrow(fn, df.schema)
    return current.repartition(1).mapInArrow(fn, df.schema)


def _blocked_merge(local: DataFrame, dim_signs: list[tuple[str, float]], blocked_rows: int) -> DataFrame:
    """Distributed global verification of local-skyline candidates with
    no single-partition stage (see ``skyline(merge="blocked")``).

    Plan: persist the local-skyline candidates and count them (the one
    sizing job — it fills the cache every later job reuses, so the
    kernel pass runs once), hash rows into B blocks, cogroup every
    (candidate-block i, opponent-block j) pair in its own task, emit the
    ids of dominated candidates, anti-join them away. The pair (i, i)
    also removes intra-block dominance between rows that came from
    different source partitions. Strict dominance keeps all ties, same
    as the kernel.

    Row-id stability: the id is ``md5(to_json(struct(*row)))`` — a pure
    function of the row's CONTENT, so it is identical across the
    dominated-ids job and the final anti-join no matter how a lost
    partition is recomputed, even when the upstream lineage contains a
    shuffle or aggregate with nondeterministic within-partition row
    order (positional ids like ``monotonically_increasing_id`` diverge
    exactly there). Duplicate rows collapse onto one id, which is
    CORRECT here: dominance is a function of the dimension values alone,
    so identical rows share dominated-fate — either every copy is
    dominated or none is — and an identical opponent never strictly
    dominates (ties are kept, same as the kernel). 128-bit md5 makes
    cross-row collisions a non-issue at any candidate count; ``to_json``
    includes field names, so two different rows can only serialize
    equal if they ARE equal. The persist() below is purely a perf pin
    (no eager ``localCheckpoint`` — that was a 6x wall-clock overhead
    at sf0.1; see PLANS.md §15); correctness no longer leans on it.
    """
    d = len(dim_signs)
    local = _persist_tracked(local)
    n_cand = local.count()
    if n_cand == 0:
        return local
    n_blocks = max(1, -(-n_cand // blocked_rows))
    tagged = local.withColumn(
        "__rid", F.md5(F.to_json(F.struct(*[F.col(c) for c in local.columns])))
    )

    sexprs = [
        (F.col(c).cast("double") * F.lit(s)).alias(f"__s{k}")
        for k, (c, s) in enumerate(dim_signs)
    ]
    slim = tagged.select("__rid", *sexprs).withColumn(
        "__blk", F.pmod(F.hash("__rid"), F.lit(n_blocks)).cast("int")
    )
    opp = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("__opp")
    # candidates keyed by (own block, opponent block); opponents keyed by
    # (candidate block, own block) — cogroup co-locates each pair
    cand_side = slim.select("*", opp)
    opp_side = slim.select("*", opp).withColumnRenamed("__opp", "__cand_blk")

    scols = [f"__s{k}" for k in range(d)]

    def dominated_ids(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({"__rid": pd.Series([], dtype="object")})
        lv = left[scols].to_numpy(dtype=np.float64)
        rv = right[scols].to_numpy(dtype=np.float64)
        out = np.zeros(len(lv), dtype=bool)
        # chunk candidates so each pairwise bool matrix stays ~16 MB
        step = max(1, (1 << 24) // max(len(rv), 1))
        for s0 in range(0, len(lv), step):
            out[s0 : s0 + step] = dominance_matrix(rv, lv[s0 : s0 + step]).any(axis=1)
        return pd.DataFrame({"__rid": left["__rid"].to_numpy()[out]})

    dominated = (
        cand_side.groupBy("__blk", "__opp")
        .cogroup(opp_side.groupBy("__cand_blk", "__blk"))
        .applyInPandas(dominated_ids, "__rid string")
        .distinct()
    )
    return tagged.join(dominated, "__rid", "left_anti").drop("__rid")


def _dominator_counts(cand: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """For each candidate vector, how many of ``rows`` strictly dominate
    it (min-normalized values; duplicates count, ties don't dominate)."""
    counts = np.zeros(len(cand), dtype=np.int64)
    # chunk rows so each pairwise bool matrix stays ~16 MB
    step = max(1, (1 << 24) // max(len(cand), 1))
    for s0 in range(0, len(rows), step):
        counts += dominance_matrix(rows[s0 : s0 + step], cand).sum(axis=1)
    return counts


def skyline_kband(
    df: DataFrame,
    dims: DimSpec,
    k: int,
    *,
    broadcast_rows: int = 1_000_000,
    cand_block_rows: int = 65_536,
    data_block_rows: int = 1 << 20,
) -> DataFrame:
    """k-skyband: rows dominated by FEWER than ``k`` rows (k=1 is the
    skyline). The classic relaxation for "top candidates with slack".

    Two-phase, superset-safe: a row in the global k-skyband has < k
    dominators globally, hence < k within its own partition — so the
    union of per-partition k-skybands is a superset of the answer.
    Phase 1 computes that candidate set (distributed; persisted, never
    collected wholesale). Phase 2 counts each candidate's dominators in
    the full data by size:

    - ``|cand| <= broadcast_rows``: the candidate *vectors* are
      broadcast and ONE distributed pass computes map-side partial
      counts (counts, not rows, cross the wire).
    - larger (anti-correlated data can make the candidate set O(n)):
      fully distributed two-sided blocked counting — candidates hashed
      into B blocks, data into D blocks, every (B, D) pair cogrouped in
      its own task (the ``_blocked_merge`` pattern), partial counts
      summed per candidate vector. No driver materialization and no
      task ever holds more than one block pair.

    The final filter is a semi-join of ``df`` on the qualifying
    vectors, so duplicates of qualifying rows all survive (ties never
    dominate). The broadcast hint is only applied on the small path;
    the blocked path lets AQE pick the join strategy.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    dim_signs = normalize_dims(dims)
    dim_cols = [c for c, _ in dim_signs]
    clean = _drop_null_dims(df, dim_cols)

    def local_kband(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # k-band needs within-partition dominator counts, so the
        # partition is buffered (a Spark partition is sized to memory)
        parts = [pa.Table.from_batches([b]) for b in batches if b.num_rows]
        if not parts:
            return
        tbl = pa.concat_tables(parts).combine_chunks()
        vals = _arrow_matrix(tbl, dim_signs)
        keep = _dominator_counts(vals, vals) < k
        out = tbl.filter(pa.array(keep))
        if out.num_rows:
            yield from out.to_batches()

    cand_rows = _persist_tracked(
        clean.mapInArrow(local_kband, df.schema).select(*dim_cols).distinct()
    )
    n_cand = cand_rows.count()
    if n_cand == 0:
        return clean.limit(0)

    if n_cand <= broadcast_rows:
        qdf = _kband_count_broadcast(clean, cand_rows, dim_signs, k)
        return clean.join(F.broadcast(qdf), on=dim_cols, how="left_semi")
    qdf = _kband_count_blocked(
        clean, cand_rows, dim_signs, k, n_cand, cand_block_rows, data_block_rows
    )
    return clean.join(qdf, on=dim_cols, how="left_semi")


def _kband_count_broadcast(
    clean: DataFrame, cand_rows: DataFrame, dim_signs: list[tuple[str, float]], k: int
) -> DataFrame:
    """Phase-2 dominator counting for a driver-small candidate set."""
    spark = clean.sparkSession
    dim_cols = [c for c, _ in dim_signs]
    # toArrow keeps timestamp units identical to the executor-side
    # _arrow_matrix conversion (a pandas round-trip would be in ns)
    cand_tbl = cand_rows.toArrow()
    cand = _arrow_matrix(cand_tbl, dim_signs)
    cand_pdf = cand_tbl.to_pandas()
    b_cand = spark.sparkContext.broadcast(cand)

    count_schema = T.StructType(
        [T.StructField("__idx", T.LongType()), T.StructField("__cnt", T.LongType())]
    )

    def partial_counts(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        c = b_cand.value
        total = np.zeros(len(c), dtype=np.int64)
        seen = False
        for batch in batches:
            if batch.num_rows == 0:
                continue
            seen = True
            tbl = pa.Table.from_batches([batch])
            total += _dominator_counts(c, _arrow_matrix(tbl, dim_signs))
        if seen:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.arange(len(c))), pa.array(total)],
                schema=pa.schema([("__idx", pa.int64()), ("__cnt", pa.int64())]),
            )

    totals = (
        clean.select(*dim_cols)
        .mapInArrow(partial_counts, count_schema)
        .groupBy("__idx")
        .agg(F.sum("__cnt").alias("n_dom"))
        .collect()
    )
    n_dom = np.zeros(len(cand), dtype=np.int64)
    for r in totals:
        n_dom[r["__idx"]] = r["n_dom"]
    return spark.createDataFrame(cand_pdf.loc[n_dom < k, dim_cols])


def _kband_count_blocked(
    clean: DataFrame,
    cand_rows: DataFrame,
    dim_signs: list[tuple[str, float]],
    k: int,
    n_cand: int,
    cand_block_rows: int,
    data_block_rows: int,
) -> DataFrame:
    """Phase-2 dominator counting with no driver-side candidate
    materialization: every (candidate-block, data-block) pair is
    counted in its own cogroup task; per-pair partial counts are summed
    per candidate vector. Shuffle cost is B×|data| + D×|cand| rows of
    dimension columns only — the price of exact counting at O(n)
    candidate cardinality, paid distributed instead of on the driver."""
    dim_cols = [c for c, _ in dim_signs]
    n_data = clean.count()
    B = max(1, -(-n_cand // cand_block_rows))
    D = max(1, -(-n_data // data_block_rows))

    cand_side = (
        cand_rows.withColumn("__cblk", F.pmod(F.hash(*dim_cols), F.lit(B)).cast("int"))
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(D - 1))).alias("__dblk"))
    )
    data_side = (
        clean.select(*dim_cols)
        .withColumn("__dblk", F.pmod(F.hash(*dim_cols), F.lit(D)).cast("int"))
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("__cblk"))
    )

    out_fields = [clean.schema[c] for c in dim_cols] + [
        T.StructField("__cnt", T.LongType(), False)
    ]
    out_schema = T.StructType(out_fields)

    def pair_counts(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cand_pdf = left.drop(columns=["__cblk", "__dblk"])
        cmat = _values_matrix(cand_pdf, dim_signs)
        dmat = _values_matrix(right, dim_signs)
        out = cand_pdf.copy()
        out["__cnt"] = _dominator_counts(cmat, dmat)
        return out

    partial = (
        cand_side.groupBy("__cblk", "__dblk")
        .cogroup(data_side.groupBy("__cblk", "__dblk"))
        .applyInPandas(pair_counts, out_schema)
    )
    return (
        partial.groupBy(*dim_cols)
        .agg(F.sum("__cnt").alias("__n_dom"))
        .where(F.col("__n_dom") < k)
        .select(*dim_cols)
    )


def grouped_combine_fn(key_cols: Sequence[str], dim_signs: list[tuple[str, float]], flush_rows: int = 1 << 19):
    """``mapInArrow`` function: per-(partition, group) skyline — the
    map-side combine (the Spark analogue of the reference's
    combiner-equals-reducer, ``/root/reference/Skyline.java:408``).
    Correct by the combiner law within each group; after it, a
    ``groupBy(key_cols)`` shuffle carries only local Pareto sets.

    ``flush_rows`` bounds buffered rows before an intermediate per-group
    reduction, so memory is bounded on pathological partitions without
    paying a kernel run per Arrow batch.
    """
    key_cols = list(key_cols)

    def _reduce_groups(tbl: pa.Table) -> pa.Table:
        """Per-group skyline of one in-memory table. One boolean mask +
        ONE table filter: group codes are factorized on the key columns
        only, rows argsorted into contiguous group slices, and the
        kernel runs per slice on the numeric matrix — pass-through
        columns are never copied per group (a per-group ``take`` on the
        full-width table costs more than the kernel itself)."""
        if tbl.num_rows == 0:
            return tbl
        key_pdf = tbl.select(key_cols).to_pandas()
        codes = key_pdf.groupby(key_cols, sort=False, dropna=False).ngroup().to_numpy()
        mat = _arrow_matrix(tbl, dim_signs)
        keep = np.zeros(tbl.num_rows, dtype=bool)
        order = np.argsort(codes, kind="stable")
        bounds = np.flatnonzero(np.diff(codes[order])) + 1
        for idx in np.split(order, bounds):
            keep[idx] = skyline_mask(mat[idx])
        return tbl.filter(pa.array(keep))

    def local_combine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        buf: list[pa.Table] = []
        buffered = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            buf.append(pa.Table.from_batches([batch]))
            buffered += batch.num_rows
            if buffered >= flush_rows:
                buf = [_reduce_groups(pa.concat_tables(buf).combine_chunks())]
                buffered = buf[0].num_rows
        if buf:
            out = _reduce_groups(pa.concat_tables(buf).combine_chunks())
            if out.num_rows:
                yield from out.to_batches()

    return local_combine


def skyline_by(
    df: DataFrame,
    keys: Sequence[str] | str,
    dims: DimSpec,
    *,
    combine: bool | None = None,
) -> DataFrame:
    """Grouped skyline: the Pareto set within each group of ``keys``.

    Composition the reference cannot express (its cell grouping is
    internal). Two-level plan: a map-side combine first runs the kernel
    per (partition, group) — correct by the combiner law within each
    group — so the ``groupBy`` shuffle carries only local Pareto sets,
    not the input. Without it, a low-cardinality key (the common case:
    few groups × billions of rows) would funnel ALL data through a
    handful of group tasks.

    ``combine=None`` decides from the deployment: the combine's win is
    replacing a NETWORK shuffle of all rows with one of tiny Pareto
    sets, paid for with one extra Arrow pass over the data. On a real
    cluster that trade always wins at volume → combine. On ``local[*]``
    there is no network — the "shuffle" is in-process memory/disk, so
    the extra pass costs more than it saves (measured 2-3.5× slower on
    600k-row scans AND joins) → direct groupBy, whose per-group kernel
    tasks are the same work the combine's final stage would do anyway.
    Pass ``combine=True/False`` to override either way.
    """
    if isinstance(keys, str):
        keys = [keys]
    dim_signs = normalize_dims(dims)
    clean = _drop_null_dims(df, [c for c, _ in dim_signs])

    key_cols = list(keys)
    local_combine = grouped_combine_fn(key_cols, dim_signs)

    def per_group(tbl: pa.Table) -> pa.Table:
        return _arrow_skyline(tbl, dim_signs)

    if combine is None:
        # sparkContext is unavailable under Spark Connect — default to
        # combine=True there (the cluster-shaped choice). Match only
        # REAL local masters: 'local' / 'local[...]' — NOT
        # 'local-cluster[...]', which simulates real executors with a
        # network shuffle and wants the combine.
        try:
            master = (df.sparkSession.sparkContext.master or "").lower()
        except Exception:
            master = ""
        combine = not (master == "local" or master.startswith("local["))
    if combine:
        local = clean.mapInArrow(local_combine, df.schema)
        return local.groupBy(*key_cols).applyInArrow(per_group, df.schema)
    return clean.groupBy(*key_cols).applyInArrow(per_group, df.schema)


def skyline_layers(df: DataFrame, dims: DimSpec, n_layers: int) -> DataFrame:
    """Ranked Pareto bands: layer 1 = skyline, layer 2 = skyline of the
    remainder, ... Returns ``df``'s columns plus ``layer int``.

    Driver-side loop of ``n_layers`` skyline+exceptAll rounds; each round
    shuffles only the shrinking remainder. ``exceptAll`` keeps duplicate
    multiplicity consistent with strict-dominance tie semantics.
    """
    if n_layers < 1:
        raise ValueError("n_layers must be >= 1")
    remaining = df
    out: DataFrame | None = None
    for layer in range(1, n_layers + 1):
        # Each layer's skyline feeds BOTH the output union and the next
        # round's exceptAll — cache so the kernel runs once per layer,
        # not once per reference (and lineage doesn't re-read the scan).
        # sky caches stay pinned (they ARE the output); each round's
        # remaining is unpersisted once the next round's is materialized
        # (layer 1's `remaining` is the caller's frame — never touched).
        sky = _persist_tracked(skyline(remaining, dims))
        tagged = sky.withColumn("layer", F.lit(layer))
        out = tagged if out is None else out.unionByName(tagged)
        if layer < n_layers:
            nxt = remaining.exceptAll(sky).cache()
            nxt.count()  # materialize before freeing the parent cache
            if layer > 1:
                remaining.unpersist()
            remaining = nxt
    assert out is not None
    return out
