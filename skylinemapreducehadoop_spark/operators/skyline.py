"""Distributed skyline (Pareto-optimal set) operator.

Re-expresses the reference engine's three-job MapReduce pipeline
(``/root/reference/Skyline.java``, ``LSkyMapper.java``, ``LSkyReducer.java``,
``GlobalSkyline.java``) as a composable PySpark DataFrame operator.

Physical plan (strategy="twophase", the default):

1. **Local pass** — ``mapInArrow`` computes a per-partition skyline.
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

Candidate verification — the paper's global check of local-skyline
candidates against the other rows (the reference's ``GSkyReducer.java:20-32``)
— is one helper, ``_verify_candidates``: it keeps the candidate vectors
that fewer than k rows match under a count function, by broadcast-and-
count or by a block-pair cogroup. ``skyline(merge="blocked")``,
``skyline_kband`` and ``reverse.reverse_skyline`` all run it.

strategy="quadtree" routes to the dominance-aware quadtree partitioner
(see ``operators/quadtree.py``), the reference's actual contribution:
data-space cells prune provably-dominated regions *before* the local
pass and bound the merge fan-in.

Null semantics: rows with NULL in any skyline dimension are excluded
(documented engine semantics; the reference would corrupt on its
missing-value sentinels — SURVEY.md §1.2). The null filter is applied
Spark-side as an explicit IsNotNull conjunction (``_drop_null_dims``),
which Catalyst pushes into the scan.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skylinemapreducehadoop_spark.operators._kernel import dominator_counts, layer_numbers, skyline_mask

DimSpec = Sequence[tuple[str, str]]


def _drop_null_dims(df: DataFrame, dim_cols: Sequence[str]) -> DataFrame:
    """All-dims-non-null filter as an AND of per-column IsNotNull; every
    skyline operator passes here, so it also rejects missing dims.

    ``dropna(subset=...)`` compiles to ``atleastnnonnulls(n, ...)``,
    which parquet cannot push; the explicit conjunction reaches the
    scan as PushedFilters (verified in the formatted plan).
    """
    missing = [c for c in dim_cols if c not in df.columns]
    if missing:
        raise ValueError(f"skyline dims not in DataFrame: {missing}")
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


def _arrow_matrix(tbl: "pa.Table | pa.RecordBatch", dim_signs: list[tuple[str, float]]) -> np.ndarray:
    """(n, d) min-normalized float64 coordinates of the dimension
    columns, read straight from Arrow (pass-through columns are never
    touched). The one encoder of the skyline family; ``_signed_columns``
    is its Spark-side twin and yields the same doubles bit for bit.

    Coordinates: numbers and decimals as float64; ``timestamp`` as epoch
    microseconds (``timestamp_ntz``: wall-clock epoch microseconds);
    ``date`` as epoch days. Float64 is exact for integers within ±2^53
    and decimals of at most 15 digits; beyond that distinct values can
    round to one coordinate (int64 (2^53, 0) vs (2^53+1, 0) both survive).
    """
    arr = np.empty((tbl.num_rows, len(dim_signs)), dtype=np.float64)
    for j, (col, sign) in enumerate(dim_signs):
        c = tbl.column(col)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us", c.type.tz)).cast(pa.int64())
        elif pa.types.is_date(c.type):
            c = c.cast(pa.date32()).cast(pa.int32())
        arr[:, j] = sign * c.to_numpy(zero_copy_only=False).astype(np.float64)
    return arr


def _signed_columns(schema: T.StructType, dim_signs: list[tuple[str, float]]) -> list[Column]:
    """``_arrow_matrix`` as Spark columns ``__s0 .. __s{d-1}``, equal bit for
    bit. ``timestamp_ntz`` is built from its date and clock fields, not cast
    through the session time zone, so no zone or DST gap moves it."""
    out = []
    for j, (c, sign) in enumerate(dim_signs):
        col, dtype = F.col(c), schema[c].dataType
        if isinstance(dtype, T.TimestampType):
            v = F.unix_micros(col)
        elif isinstance(dtype, T.TimestampNTZType):
            v = (
                F.unix_date(col.cast("date")).cast("long") * 86_400_000_000
                + F.hour(col).cast("long") * 3_600_000_000
                + F.minute(col).cast("long") * 60_000_000
                + (F.extract(F.lit("SECOND"), col) * 1_000_000).cast("long")
            )
        elif isinstance(dtype, T.DateType):
            v = F.unix_date(col)
        else:
            v = col
        out.append((v.cast("double") * F.lit(sign)).alias(f"__s{j}"))
    return out


def _arrow_skyline(tbl: "pa.Table", dim_signs: list[tuple[str, float]]) -> "pa.Table":
    """Skyline of one in-memory Arrow table (dims already non-null)."""
    mask = skyline_mask(_arrow_matrix(tbl, dim_signs))
    return tbl.filter(pa.array(mask))


def _partition_skyline_fn(dim_signs: list[tuple[str, float]], n_layers: int = 1, tag: bool = False):
    """mapInArrow function: the partition's first ``n_layers`` Pareto
    layers (1: its skyline), with ``tag`` also a last ``__layer`` column.
    A running accumulator across Arrow batches bounds memory by those
    layers (exact by the law in ``skyline_layers``). Pure Arrow:
    pass-through columns are never converted to pandas dtypes."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: pa.Table | None = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            combined = pa.concat_tables([acc, tbl]) if acc is not None else tbl
            layers = layer_numbers(_arrow_matrix(combined, dim_signs), n_layers)
            acc = combined.filter(pa.array(layers > 0))
        if acc is not None and acc.num_rows:
            if tag:
                acc = acc.append_column("__layer", pa.array(layers[layers > 0]))
            yield from acc.combine_chunks().to_batches()

    return fn


#: rows one merge task handles comfortably (vectorized SFS kernel)
_MERGE_BATCH_ROWS = 1_000_000
#: upstream partitions absorbed per task at each extra tree level
_MERGE_FAN_IN = 16

# bounded registry of per-query persisted frames — shared by every
# operator that materializes a multiply-consumed intermediate (see
# operators/_cache.py for the eviction semantics)
from skylinemapreducehadoop_spark.operators._cache import persist_tracked as _persist_tracked, scan_partitions


def skyline(
    df: DataFrame,
    dims: DimSpec,
    *,
    strategy: str = "twophase",
    merge: str = "tree",
) -> DataFrame:
    """Pareto-optimal rows of ``df`` under per-dimension min/max directions.

    dims: sequence of ``(column, 'min'|'max')`` — the engine's query knob,
    mirroring the reference's per-dimension ``value_type`` directions.
    Columns may be numeric, decimal, ``date``, ``timestamp`` or
    ``timestamp_ntz`` (see ``_arrow_matrix`` for how each compares).

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
      - ``"blocked"``: fully distributed verification — NO
        single-partition stage anywhere, so even a Pareto set far larger
        than one task's memory works. The candidate vectors are
        checked against each other in block pairs (``_verify_candidates``
        on its blocked path) and the local skyline is semi-joined on the
        survivors. Costs a block-replication shuffle — opt in for
        anti-correlated data at extreme scale.

    NOTE (declarative-API caveat): CALLING this function runs one Spark
    job eagerly for BOTH merge modes — the local pass is persisted and
    counted so the auto guard can size its merge levels (tree) or its
    block count (blocked) from the measured candidate count; the count
    job fills the cache the merge plan then reuses, so the kernel runs
    once. ``skyline_layers`` runs the same plan, so this one count is
    also the only eager job it starts, whatever its depth.
    """
    dim_signs = normalize_dims(dims)
    clean = _drop_null_dims(df, [c for c, _ in dim_signs])

    if strategy == "bruteforce":
        return clean.repartition(1).mapInArrow(_partition_skyline_fn(dim_signs), df.schema)

    if strategy == "quadtree":
        from skylinemapreducehadoop_spark.operators.quadtree import quadtree_skyline

        return quadtree_skyline(clean, dim_signs)

    if strategy != "twophase":
        raise ValueError(f"unknown strategy {strategy!r}")
    if merge not in ("tree", "blocked"):
        raise ValueError(f"unknown merge {merge!r}")
    return _twophase(clean, dim_signs, merge)


def _twophase(
    clean: DataFrame, dim_signs: list[tuple[str, float]], merge: str = "tree", n_layers: int | None = None
) -> DataFrame:
    """Local pass (persisted, counted) over null-free ``clean``, then the
    ``merge``; with ``n_layers`` (tree only), the first n layers, tagged ``__layer``."""
    # The local pass is CPU-bound kernel work: if the PLANNED scan has
    # fewer partitions than cores (small files / single unsplittable
    # parquet), fan out first. Splittable sources (text under
    # minPartitionNum) already scan wide — skip the redundant exchange.
    # At cluster scale input splits >> cores and this no-ops.
    schema = clean.schema
    sc = clean.sparkSession.sparkContext
    if 0 < scan_partitions(clean) < sc.defaultParallelism:
        clean = clean.repartition(sc.defaultParallelism)
    fn = _partition_skyline_fn(dim_signs, n_layers or 1)
    # Both merges size themselves from the local pass: materialize it
    # once and measure it. The persist means the local pass is not
    # recomputed by the merge.
    local = _persist_tracked(clean.mapInArrow(fn, schema))
    n_local = local.count()

    if merge == "blocked":
        # a vector's dominated fate depends only on its values, so the
        # vectors are verified and every copy semi-joins back (Spark's
        # grouping and join keys both treat NaN as equal to NaN and -0.0
        # as equal to 0.0, so no copy is lost). Repeated vectors need no
        # distinct: they only multiply a count, and k = 1 asks for 0.
        dim_cols = [c for c, _ in dim_signs]
        cand = local.select(*dim_cols)
        keep = _verify_candidates(cand, cand, n_local, dim_signs, dominator_counts, 1, blocked=True)
        return local.join(keep, on=dim_cols, how="left_semi").select(*schema.names)

    # Tree-reduce the union of local passes down to one partition.
    # The final merge MUST be a single partition (global dominance needs
    # every surviving candidate in one place — the reference's single
    # reducer, /root/reference/Skyline.java:414), but on anti-correlated
    # data the union of local skylines can be huge, so intermediate
    # levels bound each merge task's fan-in: widths cap
    # rows-per-merge-task.
    widths: list[int] = []
    w = -(-n_local // _MERGE_BATCH_ROWS)  # ceil
    while w > 1:
        widths.append(int(w))
        w = -(-w // _MERGE_FAN_IN)

    current = local
    for w in widths:
        current = current.repartition(w).mapInArrow(fn, schema)
    if n_layers is None:
        return current.repartition(1).mapInArrow(fn, schema)
    tagged = T.StructType(schema.fields + [T.StructField("__layer", T.IntegerType(), False)])
    return current.repartition(1).mapInArrow(_partition_skyline_fn(dim_signs, n_layers, tag=True), tagged)


#: candidate sets up to this many vectors are verified broadcast-and-count
_BROADCAST_ROWS = 1_000_000
#: rows per candidate block and per data block on the blocked verify path
_CAND_BLOCK_ROWS = 65_536
_DATA_BLOCK_ROWS = 1 << 20


def _local_filter_fn(dim_signs: list[tuple[str, float]], count_fn, k: int):
    """mapInArrow function: rows that fewer than ``k`` rows of their own
    partition match under ``count_fn``. Superset-safe for every caller:
    a row with fewer than ``k`` matches globally has fewer in its own
    partition. The partition is buffered, since the count needs
    within-partition pairs (a Spark partition is sized to memory)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parts = [pa.Table.from_batches([b]) for b in batches if b.num_rows]
        if not parts:
            return
        tbl = pa.concat_tables(parts).combine_chunks()
        vals = _arrow_matrix(tbl, dim_signs)
        out = tbl.filter(pa.array(count_fn(vals, vals, k) < k))
        if out.num_rows:
            yield from out.to_batches()

    return fn


def _verify_candidates(
    clean: DataFrame,
    cand: DataFrame,
    n_cand: int,
    dim_signs: list[tuple[str, float]],
    count_fn,
    k: int,
    *,
    blocked: bool = False,
) -> DataFrame:
    """The dimension vectors of ``cand`` (``n_cand`` rows, distinct
    unless ``k == 1``) that fewer than ``k`` rows of ``clean`` match
    under ``count_fn(cand_values, row_values, cap)``, whose counts need
    only be exact below ``cap``. Returns the dimension columns; callers
    semi-join on them.

    Two physical paths:

    - ``n_cand <= _BROADCAST_ROWS``: the candidate vectors are broadcast
      and ONE distributed pass computes map-side partial counts (counts,
      not rows, cross the wire). The result is hinted for a broadcast
      join.
    - larger, or ``blocked=True``: candidates hashed into B blocks, data
      into D blocks, every (B, D) pair cogrouped in its own task and the
      partial counts summed per vector. No driver materialization, and
      no task ever holds more than one block pair. Shuffle cost is
      B×|data| + D×|cand| rows of dimension columns only.
    """
    spark = clean.sparkSession
    dim_cols = [c for c, _ in dim_signs]
    if not blocked and n_cand <= _BROADCAST_ROWS:
        # Arrow on both sides keeps timestamp units identical to the
        # executor-side _arrow_matrix conversion
        cand_tbl = cand.toArrow()
        b_cand = spark.sparkContext.broadcast(_arrow_matrix(cand_tbl, dim_signs))

        def partial_counts(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            c = b_cand.value
            total = np.zeros(len(c), dtype=np.int64)
            for batch in batches:
                rows = _arrow_matrix(pa.Table.from_batches([batch]), dim_signs)
                live = np.flatnonzero(total < k)
                total[live] += count_fn(c[live], rows, k)
            idx = np.flatnonzero(total)
            yield pa.RecordBatch.from_arrays(
                [pa.array(idx, pa.int64()), pa.array(total[idx])], names=["__idx", "__cnt"]
            )

        totals = (
            clean.select(*dim_cols)
            .mapInArrow(partial_counts, "__idx long, __cnt long")
            .groupBy("__idx")
            .agg(F.sum("__cnt").alias("__cnt"))
            .toArrow()
        )
        n_match = np.zeros(cand_tbl.num_rows, dtype=np.int64)
        n_match[totals["__idx"].to_numpy()] = totals["__cnt"].to_numpy()
        keep = cand_tbl.filter(pa.array(n_match < k))
        return F.broadcast(spark.createDataFrame(keep, schema=cand.schema))

    n_data = n_cand if clean is cand else clean.count()
    B = max(1, -(-n_cand // _CAND_BLOCK_ROWS))
    D = max(1, -(-n_data // _DATA_BLOCK_ROWS))

    def blocks(side: DataFrame, own: str, n_own: int, other: str, n_other: int) -> DataFrame:
        # hashed into its own block, replicated to every block of the other side
        return side.select(
            *dim_cols,
            F.pmod(F.hash(*dim_cols), F.lit(n_own)).cast("int").alias(own),
            F.explode(F.sequence(F.lit(0), F.lit(n_other - 1))).alias(other),
        )

    def pair_counts(left: pa.Table, right: pa.Table) -> pa.Table:
        cnt = count_fn(_arrow_matrix(left, dim_signs), _arrow_matrix(right, dim_signs), k)
        return left.select(dim_cols).append_column("__cnt", pa.array(cnt, pa.int64()))

    out_schema = T.StructType(
        [clean.schema[c] for c in dim_cols] + [T.StructField("__cnt", T.LongType(), False)]
    )
    return (
        blocks(cand, "__cblk", B, "__dblk", D)
        .groupBy("__cblk", "__dblk")
        .cogroup(blocks(clean, "__dblk", D, "__cblk", B).groupBy("__cblk", "__dblk"))
        .applyInArrow(pair_counts, out_schema)
        .groupBy(*dim_cols)
        .agg(F.sum("__cnt").alias("__cnt"))
        .where(F.col("__cnt") < k)
        .select(*dim_cols)
    )


def skyline_kband(df: DataFrame, dims: DimSpec, k: int) -> DataFrame:
    """k-skyband: rows dominated by FEWER than ``k`` rows (k=1 is the
    skyline). The classic relaxation for "top candidates with slack".

    Two-phase, superset-safe: a row in the global k-skyband has < k
    dominators globally, hence < k within its own partition — so the
    union of per-partition k-skybands is a superset of the answer.
    Phase 1 computes that candidate set (distributed; persisted, never
    collected wholesale). Phase 2 counts each candidate's dominators in
    the full data with ``_verify_candidates``, which picks a broadcast
    or a blocked path from the candidate count.

    The final filter is a semi-join of ``df`` on the qualifying
    vectors, so duplicates of qualifying rows all survive (ties never
    dominate).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    dim_signs = normalize_dims(dims)
    dim_cols = [c for c, _ in dim_signs]
    clean = _drop_null_dims(df, dim_cols)

    local = clean.mapInArrow(_local_filter_fn(dim_signs, dominator_counts, k), df.schema)
    cand = _persist_tracked(local.select(*dim_cols).distinct())
    n_cand = cand.count()
    if n_cand == 0:
        return clean.limit(0)
    keep = _verify_candidates(clean, cand, n_cand, dim_signs, dominator_counts, k)
    return clean.join(keep, on=dim_cols, how="left_semi")


#: buffered rows before the map-side combine reduces its groups early
_FLUSH_ROWS = 1 << 19


def grouped_combine_fn(key_cols: Sequence[str], dim_signs: list[tuple[str, float]]):
    """``mapInArrow`` function: per-(partition, group) skyline — the
    map-side combine (the Spark analogue of the reference's
    combiner-equals-reducer, ``/root/reference/Skyline.java:408``).
    Correct by the combiner law within each group; after it, a
    ``groupBy(key_cols)`` shuffle carries only local Pareto sets.

    ``_FLUSH_ROWS`` bounds buffered rows before an intermediate per-group
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
            if buffered >= _FLUSH_ROWS:
                buf = [_reduce_groups(pa.concat_tables(buf).combine_chunks())]
                buffered = buf[0].num_rows
        if buf:
            out = _reduce_groups(pa.concat_tables(buf).combine_chunks())
            if out.num_rows:
                yield from out.to_batches()

    return local_combine


def skyline_by(df: DataFrame, keys: Sequence[str] | str, dims: DimSpec) -> DataFrame:
    """Grouped skyline: the Pareto set within each group of ``keys``.

    Composition the reference cannot express (its cell grouping is
    internal). Two-level plan: a map-side combine first runs the kernel
    per (partition, group) — correct by the combiner law within each
    group — so the ``groupBy`` shuffle carries only local Pareto sets,
    not the input. Without it, a low-cardinality key (the common case:
    few groups × billions of rows) would funnel ALL data through a
    handful of group tasks.

    The master decides whether the combine runs: its win is replacing a
    NETWORK shuffle of all rows with one of tiny Pareto sets, paid for
    with one extra Arrow pass over the data. On a real cluster that
    trade always wins at volume → combine. On ``local[*]`` there is no
    network — the "shuffle" is in-process memory/disk, so the extra pass
    costs more than it saves (measured 2-3.5× slower on 600k-row scans
    AND joins) → direct groupBy, whose per-group kernel tasks are the
    same work the combine's final stage would do anyway.
    """
    if isinstance(keys, str):
        keys = [keys]
    dim_signs = normalize_dims(dims)
    clean = _drop_null_dims(df, [c for c, _ in dim_signs])

    key_cols = list(keys)

    def per_group(tbl: pa.Table) -> pa.Table:
        return _arrow_skyline(tbl, dim_signs)

    # sparkContext is unavailable under Spark Connect — combine there
    # (the cluster-shaped choice). Match only REAL local masters:
    # 'local' / 'local[...]' — NOT 'local-cluster[...]', which simulates
    # real executors with a network shuffle and wants the combine.
    try:
        master = (df.sparkSession.sparkContext.master or "").lower()
    except Exception:
        master = ""
    if not (master == "local" or master.startswith("local[")):
        local = clean.mapInArrow(grouped_combine_fn(key_cols, dim_signs), df.schema)
        return local.groupBy(*key_cols).applyInArrow(per_group, df.schema)
    return clean.groupBy(*key_cols).applyInArrow(per_group, df.schema)


def skyline_layers(df: DataFrame, dims: DimSpec, n_layers: int) -> DataFrame:
    """Ranked Pareto bands: layer 1 = skyline, layer 2 = skyline of the
    remainder, ... up to ``n_layers``. Returns ``df``'s columns plus
    ``layer int`` (a ``layer`` column of ``df`` is replaced in place).

    One pass: ``skyline``'s twophase plan with every pass keeping the
    first n layers, so it runs the same one eager count at any depth.
    Exact: a subset of the rows never deepens a row's layer, and every
    dominator of a row in layer <= n is in a layer < n and so is kept.
    """
    if n_layers < 1:
        raise ValueError("n_layers must be >= 1")
    dim_signs = normalize_dims(dims)
    clean = _drop_null_dims(df, [c for c, _ in dim_signs])
    out = _twophase(clean, dim_signs, n_layers=n_layers)
    return out.withColumn("layer", F.col("__layer")).drop("__layer")
