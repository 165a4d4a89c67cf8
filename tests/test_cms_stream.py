"""Streaming CMS heavy hitters: cross-micro-batch state accumulation and
batch/stream consistency on the shared fold code."""

from pyspark.sql import functions as F

from vldt_spark.streaming import replay
from vldt_spark.streaming.cms_stream import stream_heavy_hitters


def _top(k):
    return lambda s: stream_heavy_hitters(s, "v", "ts", k=k, width=256, depth=3)


def test_cross_batch_accumulation(spark):
    # the same window receives rows in TWO micro-batches; the final
    # emission must reflect the union (state carried across batches)
    base = spark.createDataFrame(
        [("2024-01-01 10:00:00", "a")] * 5 + [("2024-01-01 11:00:00", "b")] * 3,
        "ts string, v string",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "v")
    more = spark.createDataFrame(
        [("2024-01-01 12:00:00", "b")] * 4, "ts string, v string"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "v")
    rows = replay(spark, [base, more], _top(3), mode="update").collect()
    # latest emission per (window, rank) is the answer
    latest = {}
    for r in rows:
        latest[(r["window_start"], r["rank"])] = (r["value"], r["est_count"])
    w = [k for k in latest if k[1] == 1][0][0]
    assert latest[(w, 1)] == ("b", 7)  # 3 in batch 1 + 4 in batch 2
    assert latest[(w, 2)] == ("a", 5)


def test_matches_batch_cms(spark):
    from vldt_spark.checks.cms import cms_heavy_hitters

    df = spark.range(2000).select(
        F.lit("2024-02-02 08:00:00").cast("timestamp").alias("ts"),
        F.concat(F.lit("v"), (F.col("id") % 9)).alias("v"),
    )
    stream_rows = replay(spark, [df], _top(4), mode="update").collect()
    batch_rows = cms_heavy_hitters(df, "v", k=4, width=256, depth=3).collect()
    assert [(r["value"], r["est_count"], r["rank"]) for r in stream_rows] == [
        (r["value"], r["est_count"], r["rank"]) for r in batch_rows
    ]


def test_stream_tdigest_cross_batch_and_exact(spark):
    """Streaming t-digest: state carries across micro-batches, and in the
    singleton regime the final emission equals the exact percentile of
    the UNION of both batches."""
    import numpy as np

    from vldt_spark.streaming.tdigest_stream import stream_tdigest_quantiles

    b1 = spark.createDataFrame(
        [("2024-03-03 01:00:00", float(v)) for v in range(0, 60)],
        "ts string, value double",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "value")
    b2 = spark.createDataFrame(
        [("2024-03-03 02:00:00", float(v)) for v in range(60, 100)],
        "ts string, value double",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "value")
    rows = replay(
        spark,
        [b1, b2],
        lambda s: stream_tdigest_quantiles(
            s, "value", "ts", probs=(0.5,), compression=256, window="1 day"
        ),
        mode="update",
    ).collect()
    # final emission for the window covers all 100 points
    final = max(rows, key=lambda r: r["n_rows"])
    assert final["n_rows"] == 100
    assert final["q"] == np.percentile(np.arange(100.0), 50)  # 49.5 exact
    # the first-batch emission saw only 60 points (state accumulated later)
    assert min(r["n_rows"] for r in rows) == 60
