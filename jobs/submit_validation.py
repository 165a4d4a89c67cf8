"""spark-submit entrypoint for the full north-rule validation job.

Cluster usage (the north rule's submission shape):

    zip -r vldt_spark.zip vldt_spark
    spark-submit --py-files vldt_spark.zip \\
        jobs/submit_validation.py \\
        --input  <iceberg-or-parquet token table path> \\
        --ref    <reference token table path>          \\
        --sources <sources dim path>                   \\
        --output <ledger root>                          \\
        --partition-col source

Local sandbox smoke (same code path, local master):

    python jobs/submit_validation.py --synthetic 100000 --output /tmp/vldt_run

The job validates every uncommitted partition in one pass through the
checkpoint ledger (B13): kill it mid-run and re-submit — committed
partitions are skipped, the killed run's partitions run again.
AQE skew-join config is applied at session build (B14).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_session(master: str | None, shuffle_partitions: int | None):
    from pyspark.sql import SparkSession

    from vldt_spark.plans.skew import aqe_skew_conf

    b = SparkSession.builder.appName("vldt_spark_validation")
    if master:
        b = b.master(master)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in aqe_skew_conf().items():
        b = b.config(k, v)
    b = b.config("spark.sql.execution.arrow.pyspark.enabled", "true")
    b = b.config("spark.sql.session.timeZone", "UTC")
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="token table path (parquet/iceberg)")
    ap.add_argument("--ref", help="reference token table for the B8 equality invariant")
    ap.add_argument("--sources", help="sources dimension path")
    ap.add_argument("--output", required=True, help="ledger root directory")
    ap.add_argument("--partition-col", default="source")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate a deterministic synthetic table of N rows instead of --input")
    ap.add_argument("--master", default=os.environ.get("VLDT_MASTER"))
    ap.add_argument("--shuffle-partitions", type=int,
                    default=int(os.environ.get("VLDT_SHUFFLE_PARTITIONS", "0")) or None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = build_session(args.master, args.shuffle_partitions)
    spark.sparkContext.setLogLevel("WARN")

    from vldt_spark.flagship import TokenSequence
    from vldt_spark.plans.ledger import ValidationLedger
    from vldt_spark.sources.token_table import sources_dim, token_sequences

    if args.synthetic:
        # materialize partitioned by the ledger's partition column — the
        # Iceberg-table shape the job is designed for. The ledger's filter
        # to uncommitted partitions then PRUNES to their files instead of
        # re-generating and filtering the whole synthetic plan.
        inp = os.path.join(args.output, "_input")
        if not os.path.exists(os.path.join(inp, "_SUCCESS")):
            token_sequences(spark, args.synthetic, seed=42).write.mode(
                "overwrite"
            ).partitionBy(args.partition_col).parquet(inp)
        df = spark.read.parquet(inp)
    else:
        # path → parquet; dotted name → catalog table (Iceberg on clusters
        # with the runtime jars, metastore/temp view otherwise)
        from vldt_spark.sources.catalog import resolve_table

        df = resolve_table(spark, args.input)
    dims = {
        "sources": spark.read.parquet(args.sources) if args.sources else sources_dim(spark)
    }

    led = ValidationLedger(args.output, args.partition_col)
    t0 = time.perf_counter()
    ran = led.run(df, TokenSequence, id_cols=["doc_id"], dims=dims)
    wall = time.perf_counter() - t0

    if args.ref:
        from vldt_spark.checks.rowinvariant import equality_report

        rep = equality_report(df, spark.read.parquet(args.ref)).first().asDict()
    else:
        rep = None

    n_rows = sum(m["n_rows"] for m in ran.values())
    print(json.dumps({
        "partitions_run": sorted(ran.keys()),
        "partitions_skipped": sorted(led.completed_partitions() - set(ran.keys())),
        "n_rows": n_rows,
        "n_invalid": sum(m["n_invalid"] for m in ran.values()),
        "wall_sec": round(wall, 2),
        "seqs_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
        "token_equality": rep,
    }))
    if owns_session:  # never tear down a caller-owned session (test reuse)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
