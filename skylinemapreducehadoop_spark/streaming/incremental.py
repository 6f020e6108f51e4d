"""Structured Streaming operators: incremental skyline + windowed rollups.

The reference is pure batch (SURVEY.md §2.7); these extend the engine
to streams the Spark-native way:

- ``hourly_rollup``: watermarked tumbling-window aggregation — pure
  built-ins, late data handled by the watermark.
- ``incremental_skyline``: ``applyInPandasWithState`` — per group, the
  state is the current Pareto set of the *dimension vectors*; each
  micro-batch folds its rows into the state with the same numpy kernel
  as batch mode. The skyline-merge law (skyline(A ∪ B) =
  skyline(skyline(A) ∪ B)) makes this exact, and state size is bounded
  by the Pareto-set size, not the stream length.
- ``incremental_skyline_foreachbatch``: the sink-side variant — each
  micro-batch's *distributed* skyline merges into a driver-held
  accumulator (useful when full rows, not just dim vectors, must be
  retained).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from skylinemapreducehadoop_spark.operators._kernel import skyline_mask
from skylinemapreducehadoop_spark.operators.skyline import (
    DimSpec,
    _arrow_matrix,
    normalize_dims,
)


def hourly_rollup(
    stream: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window count+sum — all built-ins, so the
    state store, late-data drop, and partial aggregation come from the
    engine."""
    # group by the window STRUCT (extracting .start before the agg
    # severs watermark propagation); project start afterwards
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(F.col("w").start.alias("window_start"), key_col, "n_events", "sum_value")
    )


def windowed_histogram(
    stream: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    lo: float,
    hi: float,
    n_buckets: int = 10,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window equal-width value histogram — the
    STREAMING half of a distribution-drift monitor (batch twin:
    ``operators/stats.distribution_drift``, whose ``bucket_expr`` is
    REUSED here so the two can never silently diverge): per window,
    exact integer counts over fixed [lo, hi) buckets, out-of-range
    values clamped into the edge buckets, NULL values excluded —
    exactly the twin's row contract. All built-ins, so state (one row
    per window x observed bucket, closed by the watermark), late-data
    handling and partial aggregation come from the engine; a
    downstream PSI decoration is a tiny batch join on the histogram
    frame. Only observed (window, bucket) pairs are emitted — zero
    buckets are the consumer's to fill if needed."""
    from ..operators.stats import bucket_expr, check_bucket_args

    check_bucket_args(lo, hi, n_buckets)
    b = bucket_expr(value_col, lo, hi, n_buckets)
    # group by the window STRUCT (extracting .start before the agg
    # severs watermark propagation); project start afterwards
    return (
        stream.where(F.col(value_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w").start.alias("window_start"), "bucket", "n")
    )


def session_rollup(
    stream: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session-window aggregation: events within ``gap`` of each other
    merge into one session per key (Spark's native ``session_window`` —
    dynamic-length state merged by the engine, closed by the watermark).
    The batch twin of this logic (lag + running-sum sessionization) is
    oracle-checked as ``queries()['sessionize_events']``."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w").start.alias("session_start"),
            F.col("w").end.alias("session_end"),
            key_col,
            "n_events",
        )
    )


def enrich_stream(
    stream: DataFrame,
    dim_table: DataFrame,
    on: str | Sequence[str],
    *,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    stream (the standard fact-stream × dim-table pattern).

    The static side is broadcast by default — every micro-batch then
    joins map-side with NO stream-side shuffle, which is the plan you
    want when the dim table fits executors (catalogs, user profiles).
    Set ``broadcast_dim=False`` for a large static side and Spark plans
    a shuffled join per micro-batch instead. Stream-static joins are
    stateless: the static side is re-resolved per batch, so slowly-
    changing dims pick up updates on file-backed tables.
    """
    on = [on] if isinstance(on, str) else list(on)
    dim = F.broadcast(dim_table) if broadcast_dim else dim_table
    return stream.join(dim, on=on, how=how)


def incremental_skyline(
    stream: DataFrame,
    dims: DimSpec,
    *,
    key_col: str,
) -> DataFrame:
    """Exact streaming skyline per key via ``applyInPandasWithState``.

    Output (update mode): one row per key per batch with the current
    Pareto set as an array of dimension-vectors, each dimension as
    ``_arrow_matrix`` encodes it. State = the flattened min-normalized
    matrix (bounded by the Pareto set size).
    """
    dim_signs = normalize_dims(dims)
    d = len(dim_signs)
    dim_cols = [c for c, _ in dim_signs]

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("skyline_size", T.IntegerType()),
            T.StructField("skyline", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )
    state_schema = T.StructType([T.StructField("flat", T.ArrayType(T.DoubleType()))])

    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            flat = np.asarray(state.get[0], dtype=np.float64)
            current = flat.reshape(-1, d) if flat.size else np.zeros((0, d))
        else:
            current = np.zeros((0, d))

        for pdf in batches:
            pdf = pdf.dropna(subset=dim_cols)
            if len(pdf) == 0:
                continue
            vals = _arrow_matrix(pa.Table.from_pandas(pdf[dim_cols], preserve_index=False), dim_signs)
            merged = np.vstack([current, vals])
            current = merged[skyline_mask(merged)]

        state.update((current.ravel().tolist(),))
        # de-normalize for output (undo the sign flip)
        signs = np.array([s for _, s in dim_signs])
        out_vecs = current * signs[None, :]
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "skyline_size": [len(current)],
                "skyline": [[list(map(float, row)) for row in out_vecs]],
            }
        )

    return (
        stream.select(F.col(key_col).cast("string").alias(key_col), *dim_cols)
        .groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


class SkylineAccumulator:
    """Driver-held accumulator for the foreachBatch variant: keeps the
    full rows of the running skyline as a pandas frame."""

    def __init__(self, dims: DimSpec):
        self.dim_signs = normalize_dims(dims)
        self.current: pd.DataFrame | None = None

    def merge(self, batch_sky: pd.DataFrame) -> pd.DataFrame:
        if self.current is None:
            combined = batch_sky
        else:
            combined = pd.concat([self.current, batch_sky], ignore_index=True)
        cols = [c for c, _ in self.dim_signs]
        combined = combined.dropna(subset=cols)
        if len(combined):
            tbl = pa.Table.from_pandas(combined[cols], preserve_index=False)
            combined = combined.loc[skyline_mask(_arrow_matrix(tbl, self.dim_signs))]
        self.current = combined.reset_index(drop=True)
        return self.current


def incremental_skyline_foreachbatch(
    stream: DataFrame,
    dims: DimSpec,
    acc: SkylineAccumulator,
    *,
    checkpoint_dir: str,
    query_name: str = "incremental_skyline",
):
    """Start a foreachBatch query folding each micro-batch's distributed
    skyline into ``acc``. The per-batch skyline runs cluster-side (the
    combiner law); only the batch's Pareto set reaches the driver."""
    from skylinemapreducehadoop_spark.operators.skyline import skyline

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_sky = skyline(batch_df, [(c, "min" if s > 0 else "max") for c, s in acc.dim_signs])
        acc.merge(batch_sky.toPandas())

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_group_moments(
    stream: DataFrame,
    *,
    key_col: str = "event_type",
    value_col: str = "value",
    scale: int = 1_000_000,
) -> DataFrame:
    """Stateful EXACT running moments per key over a stream
    (``applyInPandasWithState``): state = (n, Σq, Σq²) where q =
    round(value·scale) — the same integer grid as the batch
    ``operators.stats`` family, so the final state after any replay
    equals the batch aggregate EXACTLY regardless of batch boundaries
    or arrival order (integer addition is associative-commutative; a
    float running sum would drift with the fold order).

    State per key is three integers — bounded forever, no watermark
    needed. The big sums are carried as DECIMAL STRINGS in the state
    and output schema (Σq² exceeds int64 at corpus scale; Python ints
    are arbitrary-precision, so the fold itself never rounds). Emits
    the updated (key, n, s, sxx) after every batch in update mode —
    the final row per key (max n) is the exact corpus moment set, from
    which mean/variance/z-scores derive engine-exactly.
    """
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("sxx", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("sxx", T.StringType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, s, sxx = state.get
            s, sxx = int(s), int(sxx)
        else:
            n, s, sxx = 0, 0, 0
        for pdf in pdfs:
            v = pdf[value_col].dropna().to_numpy(dtype=np.float64)
            if len(v) == 0:
                continue
            # HALF_UP (away from zero), matching batch F.round / DuckDB
            # round — np.rint would round half-to-even
            q = (np.sign(v) * np.floor(np.abs(v) * scale + 0.5)).astype(object)
            n += len(q)
            s += int(sum(int(x) for x in q))
            sxx += int(sum(int(x) * int(x) for x in q))
        state.update((n, str(s), str(sxx)))
        yield pd.DataFrame(
            {"key": [key[0]], "n": [n], "s": [str(s)], "sxx": [str(sxx)]}
        )

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
