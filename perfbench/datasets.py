"""Seeded input generators for the skyline benchmark.

Every generator is a pure function of its arguments: the same seed and
size give byte-identical files, so a dataset is written once per
(workload, seed, size, file count) and reused by later runs. The engine
under test only ever sees the files written here.

Families (Börzsönyi, Kossmann, Stocker, "The Skyline Operator",
ICDE 2001):

- anti-correlated: points lie near the hyperplane ``sum(x) = d * v``
  with ``v ~ N(0.5, 0.0625)``, so being good in one dimension means being
  bad in another and the skyline is large;
- independent: uniform in the unit cube;
- GSOD: the reference engine's fixed-width weather text, written by
  ``sources.gsod.make_gsod_fixture``;
- lineitem: a TPC-H-shaped line item table, the input of the registry's
  three-dimension skyline query.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when any generator's output changes, so stale caches are rebuilt
VERSION = 1


def anticorrelated(n: int, d: int, seed: int) -> np.ndarray:
    """(n, d) anti-correlated points in [0, 1]^d (rejection sampled)."""
    rng = np.random.default_rng(seed)
    out = np.empty((0, d))
    while len(out) < n:
        m = 2 * (n - len(out)) + 64
        v = rng.normal(0.5, 0.0625, size=m)
        x = rng.random((m, d))
        x = x - x.mean(axis=1, keepdims=True) + v[:, None]
        ok = ((x >= 0.0) & (x <= 1.0)).all(axis=1) & (v >= 0.0) & (v <= 1.0)
        out = np.concatenate([out, x[ok]])
    return out[:n]


def independent(n: int, d: int, seed: int) -> np.ndarray:
    """(n, d) independent uniform points in [0, 1)^d."""
    return np.random.default_rng(seed).random((n, d))


def points_table(values: np.ndarray) -> pa.Table:
    """Points as a table: an ``id`` key plus one double column per dim,
    ``a0``, ``a1``, ..."""
    cols = {"id": pa.array(np.arange(len(values), dtype=np.int64))}
    for j in range(values.shape[1]):
        cols[f"a{j}"] = pa.array(values[:, j])
    return pa.table(cols)


def lineitem_table(n: int, seed: int) -> pa.Table:
    """TPC-H-shaped ``lineitem`` rows (the columns the engine's star
    schema loader expects), with TPC-H value domains: integer quantities
    1..50, discounts 0.00..0.10, price = quantity * part price."""
    rng = np.random.default_rng(seed)
    quantity = rng.integers(1, 51, size=n).astype(np.float64)
    part_price = np.round(rng.uniform(900.0, 2100.0, size=n), 2)
    orders = np.sort(rng.integers(1, max(n // 4, 2), size=n))
    pos = np.arange(n)
    starts = np.concatenate([[True], orders[1:] != orders[:-1]])
    first = np.maximum.accumulate(np.where(starts, pos, 0))
    linenumber = (pos - first + 1).astype(np.int32)  # 1-based within the order
    ship_days = rng.integers(0, 2557, size=n)  # 1992-01-01 .. 1998-12-31
    ship_us = (np.datetime64("1992-01-01", "us") + ship_days.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )
    return pa.table(
        {
            "l_orderkey": pa.array(orders.astype(np.int64)),
            "l_partkey": pa.array(rng.integers(1, 20_001, size=n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(1, 1_001, size=n).astype(np.int64)),
            "l_linenumber": pa.array(linenumber),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(np.round(quantity * part_price, 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), size=n)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), size=n)),
            "l_shipdate": pa.array(ship_us, type=pa.timestamp("us")),
        }
    )


def write_split_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as a directory of ``n_files`` single-row-group
    parquet files, so a scan plans at least ``n_files`` tasks."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        pq.write_table(
            part,
            os.path.join(path, f"part-{k:05d}.parquet"),
            row_group_size=max(part.num_rows, 1),
            compression="snappy",
        )


def cached(root: str, key: dict, build) -> str:
    """Directory for ``key`` under ``root``, built by ``build(dir)`` once.

    The key is stored next to the data; a directory whose stored key
    differs, or whose build did not finish, is rebuilt from scratch.
    """
    key = dict(key, version=VERSION)
    name = "-".join(f"{k}{v}" for k, v in sorted(key.items()) if k != "version")
    path = os.path.join(root, name)
    stamp = os.path.join(path, "KEY.json")
    try:
        with open(stamp) as f:
            if json.load(f) == key:
                return path
    except (OSError, ValueError):
        pass
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    with open(stamp, "w") as f:
        json.dump(key, f)
    return path
