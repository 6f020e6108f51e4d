"""Fixed cost of a Python-boundary stage, next to a JVM-only stage.

Times two stages of 4 tasks each on a fresh local session and prints
one JSON line:

- ``arrow``: ``spark.range(4, numPartitions=4).mapInArrow(f)`` where
  ``f`` imports the engine and reports, from inside the worker, when
  it was entered and how many zipimporters its process holds;
- ``noop``: the same range written to the ``noop`` sink (no Python).

Per stage it reports the median over ``--runs`` timed runs (after one
untimed warm-up run) of ``wall_s`` (the action's wall time) and, for
``arrow``, ``entry_s`` (seconds from the action's start until the
last task entered ``f``). The gap between the two stages' ``wall_s``
is the Python boundary's fixed per-stage cost.

Usage:
    python tools/worker_overhead.py [--runs N]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.envinfo import env_fingerprint  # noqa: E402


def _entry(batches):
    import sys
    import time
    import zipimport

    import pyarrow as pa

    import skylinemapreducehadoop_spark  # noqa: F401  (an engine task)

    entered = time.time()
    for _ in batches:
        pass
    zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
    yield pa.RecordBatch.from_pydict({"entered": [entered], "zips": [zips]})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=9)
    args = ap.parse_args()

    # workers import the engine from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from skylinemapreducehadoop_spark.session import get_session

    spark = get_session("worker-overhead")
    df = spark.range(4, numPartitions=4)

    def arrow():
        start = time.time()
        rows = df.mapInArrow(_entry, "entered double, zips long").collect()
        return time.time() - start, max(r["entered"] for r in rows) - start, max(r["zips"] for r in rows)

    def noop():
        start = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - start

    arrow()
    noop()
    arrow_runs = [arrow() for _ in range(args.runs)]
    noop_runs = [noop() for _ in range(args.runs)]

    print(json.dumps({
        "env": env_fingerprint(spark),
        "runs": args.runs,
        "worker_zipimporters": max(r[2] for r in arrow_runs),
        "arrow": {
            "wall_s": round(statistics.median(r[0] for r in arrow_runs), 4),
            "entry_s": round(statistics.median(r[1] for r in arrow_runs), 4),
        },
        "noop": {"wall_s": round(statistics.median(noop_runs), 4)},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
