"""Dominance-aware quadtree partitioning for distributed skylines.

Re-expresses the reference engine's actual contribution — the
L-SKY-MR / G-SKY-MR pipeline — Spark-first:

- **Q1 build** (``/root/reference/QTNode.java:54-100``): a driver-side
  tree over a *sample*, splitting a d-dim box into up to 2^d children
  when a node holds more than ``maxp`` sample points. Children are a
  sparse dict (only sampled regions materialize — the reference's dense
  512-way array, ``/root/reference/Skyline.java:26``, would explode at
  d=9); a point landing in an unmaterialized child simply becomes its
  own implicit leaf cell, whose bounds are decodable from the path id.
- **Q2 prune-at-build** (``/root/reference/QTNode.java:89-92``): the
  reference drops the all-upper child when the all-lower child is
  occupied. Generalized here: a cell is pruned when some *actual sample
  point* dominates every possible point of the cell (corner test against
  the sample skyline) — provably safe, strictly more pruning.
- **Q3 cell assignment** (``/root/reference/QTNode.java:170-179``): one
  fused ``mapInArrow`` descends the tree per Arrow batch, drops rows of
  pruned cells before the shuffle (P4,
  ``/root/reference/LSkyMapper.java:45-50``) and runs the map-side
  combine on the rest.
- **A5 VPn** (``/root/reference/LSkyReducer.java:26-31``): per-cell
  component-wise max over the cell's local skyline — one JVM-side
  hash aggregate, collected (tiny: |cells| × d) and broadcast.
- **A6 sky-filter points** (``/root/reference/LSkyReducer.java:32-49``):
  per-cell per-dim argmin over the local skyline via ``min_by``,
  dedup'd on the driver, broadcast.
- **J1 broadcast anti theta-join** (``/root/reference/GSkyMapper.java:80-84``):
  local-skyline rows strictly dominated by any filter point are dropped
  before the merge (numpy broadcast against the small filter set —
  equivalent to a broadcast nested-loop anti-join, without the join).
- **J2 VPn-guarded replication** (``/root/reference/GSkyMapper.java:89-95``):
  a survivor p in cell c is replicated to cell c2 (tag ``*``) iff the
  regions are comparable (isNeeded: lo(c) <= hi(c2) componentwise,
  cf. the cell-id algebra ``/root/reference/QTNode.java:102-165`` /
  ``GlobalSkyline.java:55-74``) and p dominates VPn(c2) — a *complete*
  pruning rule: if p dominates any local-skyline point q of c2 then
  p <= q <= VPn(c2) with strictness carried, so p dominates VPn(c2).
- **J3 per-cell final check** (``/root/reference/GSkyReducer.java:20-32``):
  within each target cell, keep a ``+`` row iff no ``*`` row strictly
  dominates it.

Scale design: the only full-data shuffles are (1) the groupBy(cell) for
local skylines and (2) the groupBy(target) over the already-reduced
local-skyline union. The tree, VPn map, filter points, and isNeeded
matrix are all driver-small broadcasts, exactly like the reference's
DistributedCache side inputs (``/root/reference/Skyline.java:396-400``,
``GlobalSkyline.java:82-88``) but without manual file plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skylinemapreducehadoop_spark.operators._kernel import dominance_matrix, dominator_counts, skyline_mask
from skylinemapreducehadoop_spark.operators.skyline import (
    _arrow_matrix,
    _arrow_skyline,
    _persist_tracked,
    _signed_columns,
    grouped_combine_fn,
)

# Tree nodes are plain picklable values for broadcast:
#   internal -> {"mid": [float], "ch": {int: node}}
#   leaf     -> "L"   (materialized, not pruned)
#   pruned   -> "P"
_LEAF = "L"
_PRUNED = "P"


def _child_bits(pts: np.ndarray, mid: np.ndarray) -> np.ndarray:
    """Child index bitmask: bit j set iff x_j > mid_j (ties go low, so
    every point routes to exactly one child — QTNode.java:37-47)."""
    return ((pts > mid[None, :]) << np.arange(pts.shape[1])[None, :]).sum(axis=1)


def build_tree(
    sample: np.ndarray,
    lo: np.ndarray,
    hi: np.ndarray,
    maxp: int,
    max_depth: int = 12,
) -> dict | str:
    """Q1: recursive split while a node holds > maxp sample points."""

    def rec(pts: np.ndarray, lo: np.ndarray, hi: np.ndarray, depth: int):
        if len(pts) <= maxp or depth >= max_depth or not np.any(hi > lo):
            return _LEAF
        mid = (lo + hi) / 2.0
        bits = _child_bits(pts, mid)
        ch = {}
        for k in np.unique(bits):
            clo, chi = lo.copy(), hi.copy()
            for j in range(pts.shape[1]):
                if (int(k) >> j) & 1:
                    clo[j] = mid[j]
                else:
                    chi[j] = mid[j]
            ch[int(k)] = rec(pts[bits == k], clo, chi, depth + 1)
        return {"mid": mid.tolist(), "ch": ch}

    return rec(sample, lo.astype(float), hi.astype(float), 0)


def prune_tree(tree, root_lo: np.ndarray, root_hi: np.ndarray, sample_sky: np.ndarray) -> int:
    """Q2 generalized: mark leaves whose whole region is dominated.

    A cell C is pruned when some sample-skyline point s satisfies
    s <= lo(C) componentwise and the dominance is strict for every
    possible point of C — either s < lo(C) somewhere, or some lo_j was
    raised above the root bound (routing then guarantees points in C
    are strictly above lo_j there). Pruned points are provably
    dominated by the actual point s, so dropping them is safe
    (cf. QTNode.java:89-92's special case: lower corner occupied =>
    upper corner cell dead).
    """
    n_pruned = 0

    def rec(node, lo: np.ndarray, hi: np.ndarray, parent=None, key=None):
        nonlocal n_pruned
        if node == _LEAF:
            le = (sample_sky <= lo[None, :]).all(axis=1)
            strict = (sample_sky < lo[None, :]).any(axis=1) | bool(
                (lo > root_lo).any()
            )
            if bool((le & strict).any()):
                parent["ch"][key] = _PRUNED
                n_pruned += 1
            return
        if isinstance(node, dict):
            mid = np.asarray(node["mid"])
            for k, child in list(node["ch"].items()):
                clo, chi = lo.copy(), hi.copy()
                for j in range(len(mid)):
                    if (k >> j) & 1:
                        clo[j] = mid[j]
                    else:
                        chi[j] = mid[j]
                rec(child, clo, chi, node, k)

    if isinstance(tree, dict):
        rec(tree, root_lo.astype(float).copy(), root_hi.astype(float).copy())
    return n_pruned


def assign_cells(values: np.ndarray, tree) -> np.ndarray:
    """Q3: vectorized descent → object array of cell-id strings
    (None = pruned). Cell ids are the '.'-joined child-bit path, so a
    cell's exact bounds are reconstructible on the driver."""
    n = len(values)
    out = np.empty(n, dtype=object)

    def rec(node, idx: np.ndarray, prefix: str):
        if node == _PRUNED:
            out[idx] = None
            return
        if node == _LEAF or not isinstance(node, dict):
            out[idx] = prefix
            return
        mid = np.asarray(node["mid"])
        bits = _child_bits(values[idx], mid)
        for k in np.unique(bits):
            sub = idx[bits == k]
            child = node["ch"].get(int(k))
            pfx = f"{prefix}{int(k)}."
            if child is None:
                out[sub] = pfx  # implicit leaf: region had no sample points
            else:
                rec(child, sub, pfx)

    rec(tree, np.arange(n), "")
    return out


def cell_bounds(cell_id: str, root_lo: np.ndarray, root_hi: np.ndarray):
    """Decode a path cell-id back to its (lo, hi) box."""
    lo, hi = root_lo.astype(float).copy(), root_hi.astype(float).copy()
    for part in cell_id.split(".")[:-1]:
        k = int(part)
        mid = (lo + hi) / 2.0
        for j in range(len(lo)):
            if (k >> j) & 1:
                lo[j] = mid[j]
            else:
                hi[j] = mid[j]
    return lo, hi


#: sample size of the profiling job, tree depth cap and sample hash seed
_SAMPLE_ROWS = 20_000
_MAX_DEPTH = 12
_SEED = 42

#: memo of (canonical plan, (bounds, pruned tree)) per (plan hash, dims):
#: repeated skylines over the same source skip the two profiling jobs
#: entirely (build-once / probe-many, like the IVF index). Session-
#: scoped semantics match Spark's own file-listing/footer caches — a
#: mutated source needs a new session / refreshTable anyway. ANY tree
#: yields correct results provided the bounds are exact for the data it
#: routes, which plan equality guarantees within those semantics. The
#: JVM plan's ``equals`` decides a hit, as in Spark's cache manager: the
#: canonical plan STRING names neither file paths nor in-memory data, so
#: unrelated inputs of the same shape print alike.
_TREE_CACHE: dict[tuple, tuple] = {}
_TREE_CACHE_CAP = 16


def _profile_input(df: DataFrame, dim_signs):
    """Driver step: exact bounds (Job-0 analogue, wired programmatically
    — the reference hand-pasted them, Skyline.java:365-366) + sample +
    pruned tree. Memoized per analyzed plan; both jobs are narrow
    column-pruned scans of the dimension columns only."""
    spark = df.sparkSession
    d = len(dim_signs)
    signed = _signed_columns(df.schema, dim_signs)
    try:
        plan = df._jdf.queryExecution().analyzed().canonicalized()
        key = (plan.hashCode(), tuple(dim_signs))
        hit = _TREE_CACHE.get(key)
        if hit is not None and hit[0].equals(plan):
            return hit[1]
    except Exception:
        key = None

    stats = df.select(*signed).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.min(f"__s{j}").alias(f"lo{j}") for j in range(d)],
        *[F.max(f"__s{j}").alias(f"hi{j}") for j in range(d)],
    ).collect()[0]
    if stats["n"] == 0:
        return None
    lo = np.array([stats[f"lo{j}"] for j in range(d)], dtype=float)
    hi = np.array([stats[f"hi{j}"] for j in range(d)], dtype=float)

    # k-smallest-hash sample (TakeOrdered — distributed top-k, no full
    # sort): content-based, so the sample — and hence the tree and the
    # whole analyzed plan — is identical across invocations and
    # repartitionings, unlike seeded sample() (partitioning-dependent).
    sample_pdf = (
        df.select(*signed)
        .withColumn("__h", F.xxhash64(*[F.col(f"__s{j}") for j in range(d)], F.lit(_SEED)))
        .orderBy("__h")
        .limit(_SAMPLE_ROWS)
        .drop("__h")
        .toPandas()
    )
    sample = sample_pdf.to_numpy(dtype=np.float64)
    if len(sample) == 0:
        sample = np.array([(lo + hi) / 2.0])

    # partition granularity (reference: maxp=20, QTNode.java:50) scaled
    # so cells ≈ 4× parallelism at this sample size
    par = spark.sparkContext.defaultParallelism
    maxp = max(16, len(sample) // max(4 * par, 1))

    tree = build_tree(sample, lo, hi, maxp, _MAX_DEPTH)
    sample_sky = sample[skyline_mask(sample)]
    prune_tree(tree, lo, hi, sample_sky)

    out = (lo, hi, tree)
    if key is not None:
        _TREE_CACHE[key] = (plan, out)
        while len(_TREE_CACHE) > _TREE_CACHE_CAP:
            _TREE_CACHE.pop(next(iter(_TREE_CACHE)))
    return out


def quadtree_skyline(df: DataFrame, dim_signs: list[tuple[str, float]]) -> DataFrame:
    """Skyline of ``df`` (NULL dims already dropped by the caller) via
    dominance-aware quadtree cells. Same result as strategy='twophase';
    different physical plan: data-space pruning before the local pass
    and a cell-parallel (not single-partition) merge."""
    spark = df.sparkSession
    d = len(dim_signs)

    profiled = _profile_input(df, dim_signs)
    if profiled is None:
        return df.limit(0)
    lo, hi, tree = profiled

    # The fused assignment + combine below is CPU-bound: if the PLANNED
    # scan has fewer partitions than cores (one small/unsplittable
    # parquet — the local testdata), fan out first so it parallelizes.
    # Splittable sources already scanning wide skip the exchange. At
    # cluster scale input splits >> cores and this no-ops (same gate as
    # skyline()'s twophase local pass).
    from skylinemapreducehadoop_spark.operators._cache import scan_partitions

    fan = df
    if 0 < scan_partitions(df) < spark.sparkContext.defaultParallelism:
        fan = df.repartition(spark.sparkContext.defaultParallelism)

    # --- Q3/P4 + local skylines per cell. One mapInArrow assigns each
    # row its cell, drops rows of pruned cells and runs the map-side
    # combine per (scan partition, cell) — the Spark analogue of the
    # reference's combiner-equals-reducer (Skyline.java:408) — so the
    # groupBy("__cell") shuffle carries only per-partition Pareto sets,
    # never the full input. The per-cell pass then finishes the
    # combiner-law reduction, parallel over cells instead of the
    # reference's 1 reducer (Skyline.java:414). The tree rides in the
    # closure (driver-small nested dicts), not a Broadcast: equal inputs
    # then pickle to equal function bytes, so a repeated call yields an
    # EQUAL analyzed plan and reuses the persisted local pass.
    out_schema = T.StructType(list(fan.schema.fields) + [T.StructField("__cell", T.StringType())])
    combine = grouped_combine_fn(["__cell"], dim_signs)

    def per_cell(tbl: pa.Table) -> pa.Table:
        return _arrow_skyline(tbl, dim_signs)

    def assign_and_combine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def routed() -> Iterator[pa.RecordBatch]:
            for batch in batches:
                cell = pa.array(assign_cells(_arrow_matrix(batch, dim_signs), tree), pa.string())
                yield batch.append_column("__cell", cell).filter(cell.is_valid())

        return combine(routed())

    local_sky = _persist_tracked(
        fan.mapInArrow(assign_and_combine, out_schema)
        .groupBy("__cell")
        .applyInArrow(per_cell, out_schema)
    )

    # --- A5 VPn + A6 sky-filter points: JVM-side aggregates, collected
    # (|cells| × d doubles — the reference's DistributedCache payloads)
    side_rows = (
        local_sky.select("__cell", *_signed_columns(local_sky.schema, dim_signs))
        .groupBy("__cell")
        .agg(
            *[F.max(f"__s{j}").alias(f"v{j}") for j in range(d)],
            *[
                F.min_by(F.struct(*[f"__s{j}" for j in range(d)]), f"__s{j}").alias(
                    f"p{j}"
                )
                for j in range(d)
            ],
        )
        .collect()
    )
    cells = [r["__cell"] for r in side_rows]
    vpn = np.array([[r[f"v{j}"] for j in range(d)] for r in side_rows], dtype=float)
    fp = {
        tuple(r[f"p{j}"][f"__s{i}"] for i in range(d))
        for r in side_rows
        for j in range(d)
    }
    filter_pts = np.array(sorted(fp), dtype=float) if fp else np.zeros((0, d))

    # isNeeded matrix from exact decoded cell bounds (replaces the
    # reference's id-string prefix algebra, QTNode.java:102-165): c1 may
    # contain a dominator of some point of c2 iff lo(c1) <= hi(c2) on
    # every dim.
    C = len(cells)
    los = np.empty((C, d))
    his = np.empty((C, d))
    for i, cid in enumerate(cells):
        los[i], his[i] = cell_bounds(cid, lo, hi)
    need = (los[:, None, :] <= his[None, :, :]).all(axis=2)
    np.fill_diagonal(need, False)

    cell_index = {cid: i for i, cid in enumerate(cells)}
    b_ctx = spark.sparkContext.broadcast(
        {"cells": cells, "index": cell_index, "vpn": vpn, "need": need, "filter": filter_pts}
    )

    # --- J1 prefilter + J2 replication in one pass over the (small)
    # local-skyline union
    merge_schema = T.StructType(
        list(out_schema.fields) + [T.StructField("__tag", T.StringType(), False)]
    )

    def replicate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = b_ctx.value
        fpts, vpns, needm, cidx = ctx["filter"], ctx["vpn"], ctx["need"], ctx["index"]
        cell_names = ctx["cells"]
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            vals = _arrow_matrix(tbl, dim_signs)
            alive = dominator_counts(vals, fpts, cap=1) == 0
            tbl, vals = tbl.filter(pa.array(alive)), vals[alive]
            if tbl.num_rows == 0:
                continue
            plus = tbl.append_column("__tag", pa.array(["+"] * tbl.num_rows))
            yield from plus.combine_chunks().to_batches()
            # replicate p to cell c2 iff isNeeded(cell(p), c2) and
            # p dominates VPn(c2)
            src = np.array([cidx[c] for c in tbl.column("__cell").to_pylist()])
            targets = dominance_matrix(vals, vpns).T & needm[src]
            pi, ci = np.nonzero(targets)
            if len(pi):
                star = tbl.take(pa.array(pi))
                star = star.set_column(
                    star.schema.get_field_index("__cell"),
                    "__cell",
                    pa.array([cell_names[c] for c in ci]),
                )
                star = star.append_column("__tag", pa.array(["*"] * len(pi)))
                yield from star.combine_chunks().to_batches()

    merged = local_sky.mapInArrow(replicate, merge_schema)

    # --- J3 final per-cell check
    def final_check(tbl: pa.Table) -> pa.Table:
        tags = np.asarray(tbl.column("__tag").to_pylist())
        plus = tbl.filter(pa.array(tags == "+"))
        star = tbl.filter(pa.array(tags == "*"))
        if plus.num_rows == 0 or star.num_rows == 0:
            return plus
        pv, sv = _arrow_matrix(plus, dim_signs), _arrow_matrix(star, dim_signs)
        return plus.filter(pa.array(dominator_counts(pv, sv, cap=1) == 0))

    result = merged.groupBy("__cell").applyInArrow(final_check, merge_schema)
    return result.drop("__cell", "__tag")
