"""Streaming PII-rate monitor.

The continuous twin of `functions/text.pii_report` and the watch-dog for
the `expect.pii_frac_below` acceptance gate: an ingest stream's
PII-screen match rate is tracked per event-time window, so a scraper
change that suddenly lets contact pages through shows up within one
trigger — not at the next batch audit. Operators route a window whose
`pii_frac` spikes to a `pii_redact` pass (or quarantine) before the data
reaches a training shard.

Scale shape: NO udf anywhere — the three screens are codegen `rlike`
expressions, and the window aggregate is `text.pii_cells` summed by
`cells.windowed`, so partial aggregation runs map-side inside each
micro-batch and the only state is |open windows| rows of five longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vldt_spark.cells import share, windowed
from vldt_spark.functions.text import pii_cells


def stream_pii_windows(
    stream_df: DataFrame,
    ts_col: str,
    text_col: str,
    *,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked per-window PII screen counts over ``text_col``.

    Returns a streaming DataFrame with (window_start, n_docs, n_email,
    n_ip, n_phone, n_any, pii_frac); use append output mode — a window's
    row is final once the watermark passes its end. NULL text counts in
    no cell; an empty-text window reports NULL pii_frac, never a fake 0."""
    agg = windowed(
        stream_df, ts_col, pii_cells(F.col(text_col)), window=window, watermark=watermark
    )
    return agg.select(
        F.col("window.start").alias("window_start"),
        "n_docs", "n_email", "n_ip", "n_phone", "n_any",
        share(F.col("n_any"), F.col("n_docs")).alias("pii_frac"),
    )
