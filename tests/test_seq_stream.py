"""Streaming degenerate-sequence monitor: per-window shares equal the
batch suite guard's metric over the same rows, and the flag column is a
stateless expression (cross-batch rows land in their own windows)."""

from pyspark.sql import functions as F

from vldt_spark.streaming import replay
from vldt_spark.streaming.seq_stream import stream_degenerate_share


def _windows(spark, frames):
    return replay(
        spark,
        frames,
        lambda s: stream_degenerate_share(s, "ts", "tokens", max_run=3),
        mode="append",
    ).collect()


def _frames(spark):
    day1 = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", [1, 2, 3, 4]),     # healthy
            ("2024-01-01 11:00:00", [7, 7, 7]),        # 3-run -> degenerate
            ("2024-01-01 12:00:00", []),               # empty -> degenerate
            ("2024-01-01 13:00:00", [1, 2, 1, 2]),     # healthy
        ],
        "ts string, tokens array<int>",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "tokens")
    day2 = spark.createDataFrame(
        [("2024-01-02 10:00:00", [5, 5, 5, 5])], "ts string, tokens array<int>"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "tokens")
    sentinel = spark.createDataFrame(
        [("2024-03-01 00:00:00", None)], "ts string, tokens array<int>"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "tokens")
    return [day1, day2.unionByName(sentinel)]


def test_stream_degenerate_share_per_window(spark):
    rows = {str(r["window_start"])[:10]: r for r in _windows(spark, _frames(spark))}
    d1 = rows["2024-01-01"]
    assert d1["n_seqs"] == 4 and d1["n_degenerate"] == 2
    assert d1["degenerate_share"] == 0.5
    d2 = rows["2024-01-02"]
    assert d2["n_seqs"] == 1 and d2["n_degenerate"] == 1
    assert d2["degenerate_share"] == 1.0
    # the sentinel's own window never closes -> exactly two emissions
    assert len(rows) == 2


def test_stream_share_equals_batch_guard_metric(spark):
    from vldt_spark.checks.suite import Suite, expect

    frames = _frames(spark)
    day1 = frames[0]
    batch = (
        Suite([expect.degenerate_sequence_share_below("tokens", 1.1, max_run=3)])
        .run(day1)
        .collect()[0]
    )
    stream_rows = _windows(spark, frames)
    d1 = [r for r in stream_rows if str(r["window_start"])[:10] == "2024-01-01"][0]
    assert d1["degenerate_share"] == batch["metric"]
