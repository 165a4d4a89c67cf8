"""Gap-based sessionization: islands labels vs native session_window."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from vldt_spark.functions.sessions import session_stats, sessionize


def _events(spark):
    t = lambda m, s=0: datetime(2024, 1, 1, 0, m, s)
    rows = [
        # user 1: two sessions — 3 events tight, then a 30-min jump
        (1, 1, t(0)), (2, 1, t(1)), (3, 1, t(2)), (4, 1, t(32)), (5, 1, t(33)),
        # user 2: one long session (every gap below threshold)
        (6, 2, t(0)), (7, 2, t(4)), (8, 2, t(8)),
        # user 3: single event
        (9, 3, t(10)),
        # user 4: boundary — exactly gap apart => events MERGE (strict->
        # rule, matching session_window's closed merge interval)
        (10, 4, t(0)), (11, 4, t(5)),
    ]
    return spark.createDataFrame(rows, "event_id int, user_id int, ts timestamp")


def test_sessionize_islands(spark):
    out = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(
            _events(spark), "user_id", "ts", gap_seconds=300, order_cols=["event_id"]
        ).collect()
    }
    assert [out[i] for i in (1, 2, 3, 4, 5)] == [1, 1, 1, 2, 2]
    assert [out[i] for i in (6, 7, 8)] == [1, 1, 1]
    assert out[9] == 1
    assert [out[i] for i in (10, 11)] == [1, 1]  # exactly-gap merges


def test_session_stats_matches_islands(spark):
    """The native session_window path and the islands construction agree
    on every session boundary, count, start, and end."""
    ev = _events(spark)
    gap = 300
    native = session_stats(ev, "user_id", "ts", gap_seconds=gap)
    manual = (
        sessionize(ev, "user_id", "ts", gap_seconds=gap, order_cols=["event_id"])
        .groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr(f"INTERVAL {gap} seconds")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("session_idx")
    )
    assert sorted(native.collect()) == sorted(manual.collect())


def test_session_stats_value_sum(spark):
    ev = _events(spark).withColumn("value", F.col("event_id").cast("double"))
    out = session_stats(ev, "user_id", "ts", gap_seconds=300, value_col="value")
    row = [r for r in out.collect() if r["user_id"] == 1 and r["n_events"] == 3][0]
    assert row["sum_value"] == 1.0 + 2.0 + 3.0


def test_sessionize_rejects_bad_gap(spark):
    with pytest.raises(ValueError, match="gap_seconds"):
        sessionize(_events(spark), "user_id", "ts", gap_seconds=0)


def test_stream_session_stats_equals_batch(spark):
    """The streaming twin emits exactly the batch sessions once a
    future-dated sentinel advances the watermark past every real
    session's end; the sentinel's own (still-open) session is absent."""
    from datetime import datetime

    from vldt_spark.functions.sessions import session_stats
    from vldt_spark.streaming import replay
    from vldt_spark.streaming.sessions_stream import stream_session_stats

    ev = _events(spark).withColumn("value", F.col("event_id").cast("double"))
    sentinel = spark.createDataFrame(
        [(999, -1, datetime(2030, 1, 1))], "event_id int, user_id int, ts timestamp"
    ).withColumn("value", F.lit(0.0))

    streamed = replay(
        spark,
        [ev, sentinel],
        lambda s: stream_session_stats(s, "user_id", "ts", gap_seconds=300, value_col="value"),
        mode="append",
    )
    batch = session_stats(ev, "user_id", "ts", gap_seconds=300, value_col="value")
    assert sorted(streamed.collect()) == sorted(batch.collect())
