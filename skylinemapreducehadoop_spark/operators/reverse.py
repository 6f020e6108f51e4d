"""Reverse skyline: the points whose dynamic skyline contains a query
point q (Dellis & Seeger, VLDB 2007).

The reference repo's companion paper is titled "skyline and *reverse*
skyline", but the reference engine itself never implements the reverse
variant (``/root/reference/Readme.md:3-4`` — it ships only the forward
G-SKY-MR pipeline). This operator completes the paper's query surface
Spark-first.

Definition (value-level): a row p is in the reverse skyline of query
point q iff NO other value t in the data satisfies

    |t_i - p_i| <= |q_i - p_i|  for every dimension i,
    |t_i - p_i| <  |q_i - p_i|  for at least one i,
    t differs from p in at least one dimension.

i.e. q belongs to the dynamic (distance-transformed) skyline centered
at p. Duplicate rows of a qualifying value all survive (a duplicate of
p is not "another value", mirroring strict-dominance tie semantics in
the forward skyline).

Physical plan (the forward two-phase pattern transplanted):

1. **Local pass** — a per-partition violation check. Superset-safe: a
   violator of p in p's own partition is a violator globally, so the
   union of per-partition survivors contains the answer — under ANY
   partitioning. The input is therefore repartitioned into blocks of
   ``_LOCAL_BLOCK_ROWS`` first: the pairwise check is O(m² d) per
   partition, so splitting one m-row partition into k blocks cuts the
   work by k× AND runs it on k cores (a single-file local scan would
   otherwise serialize a quadratic pass through one task). Survivors
   then take a second, coarser local pass (few blocks, still pairwise)
   that removes most of the extra candidates the finer split let
   through — both passes keep the superset property because a true
   reverse-skyline point has no violators anywhere.
2. **Verify pass** — survivors are counted against the FULL data by
   ``skyline._verify_candidates``, the same check ``skyline_kband``
   and the blocked skyline merge run, with the box-violation count and
   k = 1: broadcast-and-count when the survivor set is driver-small,
   else a blocked cogroup with bounded per-task memory and no driver
   materialization.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skylinemapreducehadoop_spark.operators.skyline import (
    _drop_null_dims,
    _local_filter_fn,
    _persist_tracked,
    _verify_candidates,
    skyline,
)

#: rows per block of the fine first local pass
_LOCAL_BLOCK_ROWS = 4_096
#: cells of one (candidates, rows) matrix of ``_box_violations``
_BOX_CELLS = 1 << 22


def _box_violations(q: np.ndarray):
    """``count_fn`` for the reverse skyline, folded one dimension at a time
    like ``_kernel.dominance_matrix``: for each candidate p, the rows t
    that dominate q w.r.t. p — |t - p| <= |q - p| componentwise, strict
    somewhere, and t != p in some dimension. Counts are exact, so
    ``cap`` is not needed."""

    def counts(cand: np.ndarray, rows: np.ndarray, cap: int | None = None) -> np.ndarray:
        out = np.zeros(len(cand), dtype=np.int64)
        radii = np.abs(q[None, :] - cand)
        step = max(1, _BOX_CELLS // max(len(rows), 1))
        for s0 in range(0, len(cand), step):
            p, r = cand[s0 : s0 + step, :, None], radii[s0 : s0 + step, :, None]
            le, lt, neq = True, False, False
            for k, t in enumerate(rows.T):
                diff = np.abs(t - p[:, k])  # (s, m)
                le, lt, neq = le & (diff <= r[:, k]), lt | (diff < r[:, k]), neq | (t != p[:, k])
            out[s0 : s0 + step] = (le & lt & neq).sum(axis=1)
        return out

    return counts


def _query_vector(dim_cols: list[str], query_point: Sequence[float]) -> np.ndarray:
    """``query_point`` as a float64 vector, one value per dimension."""
    q = np.asarray(list(query_point), dtype=np.float64)
    if q.shape != (len(dim_cols),):
        raise ValueError(f"query_point must have {len(dim_cols)} values, got {q.shape}")
    return q


def reverse_skyline(
    df: DataFrame,
    dims: Sequence[str],
    query_point: Sequence[float],
) -> DataFrame:
    """Rows of ``df`` in the reverse skyline of ``query_point`` over
    ``dims`` (all numeric/temporal; NULL-dim rows are excluded, like the
    forward skyline)."""
    dim_cols = list(dims)
    clean = _drop_null_dims(df, dim_cols)
    q = _query_vector(dim_cols, query_point)
    # unsigned dims: the distance transform has no min/max direction
    dim_signs = [(c, 1.0) for c in dim_cols]
    violations = _box_violations(q)
    local_pass = _local_filter_fn(dim_signs, violations, 1)

    # bound the quadratic local pass: O(m²) per partition means one
    # fat partition (a single-file scan) serializes the whole pass —
    # splitting into b blocks divides the work by b and parallelizes it.
    # clean is scanned by the count, the local pass, the verify pass and
    # the final semi-join — persist it (tracked, disk-spilling) so the
    # source is read once, not four times.
    clean = _persist_tracked(clean)
    n_rows = clean.count()
    if n_rows == 0:
        return clean.limit(0)
    n_blocks = max(1, -(-n_rows // _LOCAL_BLOCK_ROWS))
    local_src = clean.repartition(n_blocks) if n_rows > _LOCAL_BLOCK_ROWS else clean
    surv1 = local_src.mapInArrow(local_pass, df.schema).select(*dim_cols).distinct()

    # second, coarser local pass over the (small) survivor set: the
    # fine split above lets extra candidates through; re-checking the
    # survivors against each other in a handful of blocks removes most
    # of them before the full-data verify. Survivors of the TRUE
    # reverse skyline have no violators anywhere, so both passes keep
    # the superset property.
    surv = _persist_tracked(
        surv1.coalesce(max(1, df.sparkSession.sparkContext.defaultParallelism // 4))
        .mapInArrow(local_pass, surv1.schema)
        .distinct()
    )
    n_surv = surv.count()
    if n_surv == 0:
        return clean.limit(0)
    keep = _verify_candidates(clean, surv, n_surv, dim_signs, violations, 1)
    return clean.join(keep, on=dim_cols, how="left_semi")


def dynamic_skyline(
    df: DataFrame,
    dims: Sequence[str],
    query_point: Sequence[float],
    *,
    strategy: str = "twophase",
) -> DataFrame:
    """Skyline in the distance space centered at ``query_point``: the
    rows minimizing ``|x_i - q_i|`` per dimension under strict Pareto
    dominance (Dellis & Seeger's dynamic skyline — the per-point query
    the reverse skyline inverts).

    Pure composition: project the absolute distances as temp columns
    and run the ordinary ``skyline`` operator over them, so every
    ``strategy`` (twophase, quadtree, bruteforce) and its scale
    properties apply unchanged. Tie semantics inherit from the
    forward skyline: rows at identical distances both survive.
    """
    dim_cols = list(dims)
    # a NULL dimension has a NULL distance, which skyline drops anyway
    proj = _drop_null_dims(df, dim_cols)
    q = _query_vector(dim_cols, query_point)
    tmp = {c: f"__dyn_{c}" for c in dim_cols}
    for c, qi in zip(dim_cols, q):
        proj = proj.withColumn(tmp[c], F.abs(F.col(c) - F.lit(float(qi))))
    out = skyline(proj, [(tmp[c], "min") for c in dim_cols], strategy=strategy)
    return out.drop(*tmp.values())
