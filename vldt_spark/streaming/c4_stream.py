"""Streaming C4 pass-rate monitor.

The continuous twin of `functions/text.c4_report` and the watch-dog for
the `expect.c4_pass_frac_above` acceptance gate: an ingest stream's
C4-rule pass rate (Raffel et al. 2020 §2.2 — line filters + lorem-ipsum
/ curly-brace / sentence-survivor document screens) is tracked per
event-time window, so a scraper change that starts letting code pages or
placeholder text through shows up within one trigger, not at the next
batch audit.

Scale shape: NO udf anywhere — `c4_rules` is one codegen projection
(split + HOF filter + regexp counts), and the window aggregate is
`text.c4_cells` summed by `cells.windowed`, so partial aggregation runs
map-side inside each micro-batch and the only state is |open windows|
rows of a few numbers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vldt_spark.cells import share, windowed
from vldt_spark.functions.text import c4_cells


def stream_c4_windows(
    stream_df: DataFrame,
    ts_col: str,
    text_col: str,
    *,
    window: str = "1 day",
    watermark: str = "1 hour",
    min_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """Watermarked per-window C4-rule counts over ``text_col``.

    Returns a streaming DataFrame with (window_start, n_docs, n_pass,
    n_lorem, n_brace, n_few_sentences, pass_frac, mean_kept_frac); use
    append output mode — a window's row is final once the watermark
    passes its end.  NULL text counts in no cell; empty windows report
    NULL fractions, never a fake 0."""
    cells = c4_cells(F.col(text_col), min_words=min_words, min_sentences=min_sentences)
    agg = windowed(stream_df, ts_col, cells, window=window, watermark=watermark)
    n = F.col("n_docs")
    return agg.select(
        F.col("window.start").alias("window_start"),
        "n_docs", "n_pass", "n_lorem", "n_brace", "n_few_sentences",
        share(F.col("n_pass"), n).alias("pass_frac"),
        share(F.col("kept_sum"), n).alias("mean_kept_frac"),
    )
