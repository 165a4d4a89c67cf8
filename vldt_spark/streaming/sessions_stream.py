"""Streaming sessionization: native session_window under a watermark.

The batch operator (functions/sessions.session_stats) IS the streaming
operator — ``session_window`` aggregation is mergeable state, so the
same plan runs under Structured Streaming: events within gap of an open
session merge into it (including sessions bridged by a late event, as
long as it beats the watermark); a session is emitted in append mode
once the watermark passes its end, exactly once.

Scale: state is one (key, open-session) buffer per active session,
evicted at emission — bounded by concurrently-active keys, not history.
The watermark delay is the lateness budget: events later than it are
dropped (the documented streaming deviation from batch exactness, same
policy as stream_verdicts).

Reference scope: the reference has no streaming surface (SURVEY.md §2);
this extends the engine's session operator to continuous ingestion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vldt_spark.functions.sessions import _check_gap


def stream_session_stats(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    gap_seconds: float,
    value_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked per-session aggregates over a streaming DataFrame —
    identical output schema and session semantics to the batch
    ``session_stats`` (a session closes when the watermark passes its
    last event + gap)."""
    gap_us = _check_gap(gap_seconds)
    # streaming watermarks require TIMESTAMP; a TIMESTAMP_NTZ event-time
    # column is cast (interpreted in the session timezone — pin UTC when
    # comparing against engines that keep naive timestamps)
    if dict(stream_df.dtypes).get(ts_col) == "timestamp_ntz":
        stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 6).alias(f"sum_{value_col}"))
    win = F.session_window(F.col(ts_col), f"{gap_us} microseconds")
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), win.alias("__w"))
        .agg(*aggs)
        .select(
            key_col,
            F.col("__w.start").alias("session_start"),
            F.col("__w.end").alias("session_end"),
            "n_events",
            *([f"sum_{value_col}"] if value_col is not None else []),
        )
    )
