"""Per-task cost of a reused Python worker's set-up, with and without
``pydeps.keep_zip_indexes``.

On ``local[1]`` (one reused Python worker), runs N single-task jobs of a
trivial pass-through pandas UDF, first plain, then with a UDF that calls
``keep_zip_indexes()`` first, and prints one JSON line with the median
driver-side wall per task of each.  Plain runs first because the helper
changes the worker process for the rest of its life.  The difference is
what pyspark's per-task ``importlib.invalidate_caches()`` costs while it
re-parses every zip index on the worker's path.  Usage:

    python3 tools/probe_worker_setup.py [--tasks 40]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
from typing import Iterator

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _plain(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    yield from batches


def _with_helper(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    from ocr_document_recognition_service_spark.pydeps import keep_zip_indexes

    keep_zip_indexes()
    yield from batches


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tasks", type=int, default=40)
    args = ap.parse_args()

    import pyspark
    from pyspark.sql.functions import pandas_udf

    from ocr_document_recognition_service_spark.pydeps import ensure_py_deps
    from ocr_document_recognition_service_spark.session import build_session

    spark = build_session(
        app_name="probe-worker-setup",
        cores=1,
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ensure_py_deps(spark)
        one = spark.range(1, numPartitions=1)
        out = {"tasks": args.tasks}
        for name, fn in (("plain", _plain), ("helper", _with_helper)):
            df = one.select(pandas_udf(fn, "long")("id"))
            walls = []
            for _ in range(args.tasks):
                t0 = time.perf_counter()
                df.collect()
                walls.append(time.perf_counter() - t0)
            out[f"{name}_task_ms"] = round(1e3 * statistics.median(walls), 1)
        out["saved_task_ms"] = round(
            out["plain_task_ms"] - out["helper_task_ms"], 1
        )
        out.update(
            python=platform.python_version(),
            pyspark=pyspark.__version__,
            host_cpus=os.cpu_count(),
        )
    finally:
        spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
