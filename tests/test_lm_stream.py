"""Streaming unigram-LM perplexity monitor: per-window metrics equal the
batch scorer over the same rows, and un-scoreable rows still advance the
watermark (the filter-below-watermark stall regression)."""

import math

import pytest
from pyspark.sql import functions as F

from vldt_spark.streaming import replay
from vldt_spark.streaming.lm_stream import stream_ppl_windows


def _windows(spark, frames, logp, floor):
    return replay(
        spark,
        frames,
        lambda s: stream_ppl_windows(s, "ts", "tokens", logp, floor, ppl_threshold=3.0),
        mode="append",
    ).collect()


def test_stream_ppl_windows_closed_form(spark):
    # fixed model: logp = [ln .5, ln .25], floor = ln .125
    logp = [math.log(0.5), math.log(0.25)]
    floor = math.log(0.125)
    day1 = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", [0, 0]),   # ppl = 2
            ("2024-01-01 11:00:00", [1]),      # ppl = 4
            ("2024-01-01 12:00:00", []),       # un-scoreable
        ],
        "ts string, tokens array<int>",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "tokens")
    day2 = spark.createDataFrame(
        [("2024-01-02 10:00:00", [9])], "ts string, tokens array<int>"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "tokens")  # OOV -> ppl 8
    sentinel = spark.createDataFrame(
        [("2024-03-01 00:00:00", None)], "ts string, tokens array<int>"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "tokens")
    rows = {
        str(r["window_start"])[:10]: r
        for r in _windows(spark, [day1, day2.unionByName(sentinel)], logp, floor)
    }
    d1 = rows["2024-01-01"]
    # empty sequence excluded from every metric
    assert d1["n_seqs"] == 2
    assert d1["avg_ppl"] == pytest.approx(3.0)
    assert d1["n_high_ppl"] == 1 and d1["high_ppl_share"] == 0.5
    d2 = rows["2024-01-02"]  # OOV token scores at the floor
    assert d2["avg_ppl"] == pytest.approx(8.0)
    assert d2["n_high_ppl"] == 1
    # the sentinel's own window never closes -> exactly two emissions
    assert len(rows) == 2


def test_stream_ppl_unscoreable_rows_advance_watermark(spark):
    """A batch of ONLY empty/NULL sequences must still advance event time
    so earlier windows emit — the regression where a row filter on the
    UDF output was pushed below the watermark node and stalled emission."""
    logp, floor = [math.log(0.5)], math.log(0.25)
    day1 = spark.createDataFrame(
        [("2024-01-01 10:00:00", [0])], "ts string, tokens array<int>"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "tokens")
    # the ONLY later batch carries nothing scoreable
    empties = spark.createDataFrame(
        [("2024-03-01 00:00:00", []), ("2024-03-01 01:00:00", None)],
        "ts string, tokens array<int>",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "tokens")
    rows = _windows(spark, [day1, empties], logp, floor)
    assert len(rows) == 1  # day-1 window DID close
    assert rows[0]["n_seqs"] == 1 and rows[0]["avg_ppl"] == pytest.approx(2.0)
