"""Streaming degenerate-sequence monitor.

The continuous twin of `expect.degenerate_sequence_share_below`: as
token sequences arrive, emit per-event-time-window counts and the
degenerate share (empty / looping / sub-entropy sequences) once the
watermark closes each window.

Scale shape: the flag is a STATELESS vectorized expression
(`degenerate_flag`, an Arrow UDF over the `sequence_stats` batch
kernel) evaluated inside the micro-batch — token arrays never enter
state.  The window aggregate is `tokens.degenerate_cells` summed by
`cells.windowed`: |open windows| rows of two longs, with partial
aggregation map-side within each batch, so the monitor's cost profile is
the batch guard's: one streaming pass, |windows|-bounded exchange and
memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vldt_spark.cells import share, windowed
from vldt_spark.functions.tokens import degenerate_cells


def stream_degenerate_share(
    stream_df: DataFrame,
    ts_col: str,
    tokens_col: str = "tokens",
    *,
    max_run: int = 100,
    min_entropy: float | None = None,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-window (window_start, window_end, n_seqs, n_degenerate,
    degenerate_share) in append mode — the batch suite guard's cells, so
    a window's share equals `expect.degenerate_sequence_share_below`'s
    metric over that window's rows."""
    cells = degenerate_cells(F.col(tokens_col), max_run=max_run, min_entropy=min_entropy)
    win = windowed(stream_df, ts_col, cells, window=window, watermark=watermark)
    return win.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_seqs",
        "n_degenerate",
        share(F.col("n_degenerate"), F.col("n_seqs")).alias("degenerate_share"),
    )
