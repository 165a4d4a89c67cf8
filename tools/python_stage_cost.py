"""Warm per-stage cost of a Python operator next to a native stage.

Runs the same one-task-per-core plan four ways on ``local[nproc]`` and
prints each one's warm median wall time (one JSON line per variant):

- ``native``: ``spark.range(n, numPartitions=n).agg(sum(id))``;
- ``mapInArrow_stock``: the same plan with an identity ``mapInArrow``
  whose closure names no ``vldt_spark`` global, so the workers keep
  CPython's stock ``zipimporter.invalidate_caches``;
- ``mapInArrow``: an identity ``mapInArrow`` whose closure names one, so
  unpickling it imports ``vldt_spark`` and its zip-directory guard
  (``vldt_spark/zip_invalidate_guard.py``) in every worker;
- ``mapInPandas``: the same through ``mapInPandas``.

The stock variant runs first: a reused worker keeps the guard once it
has imported the package.  Usage::

    python tools/python_stage_cost.py [--reps 11] [--warmups 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from vldt_spark.functions.tokens import _arrow_flat_tokens  # noqa: E402


def _stock_identity(batches):
    yield from batches


def _guarded_identity(batches):
    _ = _arrow_flat_tokens  # a vldt_spark global: unpickling imports the package
    yield from batches


def _timed(action, reps: int, warmups: int) -> dict:
    for _ in range(warmups):
        action()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        action()
        walls.append(time.perf_counter() - t0)
    q1, med, q3 = statistics.quantiles(walls, n=4)
    return {"median_s": round(med, 4), "q1_s": round(q1, 4), "q3_s": round(q3, 4)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, default=11)
    ap.add_argument("--warmups", type=int, default=3)
    args = ap.parse_args()
    cores = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(cores, numPartitions=cores)
    total = F.sum("id")
    variants = [
        ("native", df),
        ("mapInArrow_stock", df.mapInArrow(_stock_identity, df.schema)),
        ("mapInArrow", df.mapInArrow(_guarded_identity, df.schema)),
        ("mapInPandas", df.mapInPandas(_guarded_identity, df.schema)),
    ]
    for name, plan in variants:
        stats = _timed(lambda: plan.agg(total).collect(), args.reps, args.warmups)
        print(json.dumps({"stage": name, "tasks": cores, "reps": args.reps, **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
