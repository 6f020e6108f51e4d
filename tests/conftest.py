from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from skylinemapreducehadoop_spark.session import get_session

    s = get_session("skyline-tests", shuffle_partitions=8, extra_conf={"spark.default.parallelism": "8"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="module", params=["timestamp", "decimal(12,2)", "date", "timestamp_ntz"])
def typed_points(spark, request):
    """(dtype, rows, DataFrame): 200 rows (id, x, y) whose x is a
    ``timestamp``, ``decimal(12,2)``, ``date`` or ``timestamp_ntz``
    column equal to a constant scale of an integer code ``a`` (plus an
    offset); ``rows`` holds the plain (id, a, y) floats for numpy
    oracles."""
    import datetime
    import decimal

    import numpy as np

    dtype = request.param
    rng = np.random.RandomState(3)
    a = rng.randint(0, 40, 200)
    y = rng.randint(0, 40, 200).astype(float)
    base = datetime.datetime(2024, 1, 1)
    if dtype.startswith("timestamp"):
        # 1_000_007 microseconds per code step; wall clock for timestamp_ntz
        if dtype == "timestamp":
            base = base.replace(tzinfo=datetime.timezone.utc)
        xs = [base + datetime.timedelta(seconds=int(v), microseconds=7 * int(v)) for v in a]
    elif dtype == "date":
        xs = [base.date() + datetime.timedelta(days=int(v)) for v in a]
    else:
        xs = [decimal.Decimal(int(v)) / 4 for v in a]
    df = spark.createDataFrame(
        [(i, xs[i], float(y[i])) for i in range(len(a))], f"id int, x {dtype}, y double"
    ).repartition(5)
    return dtype, [(i, float(a[i]), float(y[i])) for i in range(len(a))], df
