"""Streaming unigram-LM perplexity monitor.

The continuous twin of `functions/lm.unigram_logprob`: score arriving
token sequences against a PRE-TRAINED smoothed unigram LM (the batch
train from yesterday's corpus snapshot — the production shape: the
reference model is fixed, the stream is judged against it) and emit
per-event-time-window counts, mean perplexity, and the share of
sequences whose perplexity crosses an alert threshold.

Scale shape: scoring is a STATELESS Arrow UDF on the batch scorer's
flat kernel, with the |vocab| log-prob vector closed over (float64,
~400 KB at a 50k vocab — shipped once per executor, never through
state).  The only state is `cells.windowed`'s |open windows| rows of
three numbers; token arrays never enter state,
and partial aggregation runs map-side within each micro-batch —
identical cost profile to the batch scorer plus a |windows|-bounded
exchange.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from vldt_spark.cells import Cells, share, windowed


def ppl_udf(logp: Sequence[float], floor: float):
    """Vectorized per-sequence perplexity under a fixed unigram LM:
    exp(-mean logp(token)), rounded half-up to 6 decimals (the shared
    oracle convention); NULL for empty/NULL sequences.  OOV ids and NULL
    elements score at ``floor`` (the model's unseen-mass log-prob).

    An Arrow UDF over the batch scorer's kernel (`lm._flat_mean_logp`):
    each Arrow batch is flattened once, scored with one gather and
    reduced per row with one `np.add.reduceat` — no per-row Python."""
    from vldt_spark.functions.lm import _flat_mean_logp

    vec = np.asarray(logp, dtype=np.float64)

    @arrow_udf("double")
    def _score(tokens: pa.Array) -> pa.Array:
        lens, mean = _flat_mean_logp(tokens, vec, floor)
        ppl = np.floor(np.exp(-mean) * 1e6 + 0.5) / 1e6
        return pa.array(ppl, type=pa.float64(), mask=lens == 0)

    return _score


def stream_ppl_windows(
    stream_df: DataFrame,
    ts_col: str,
    tokens_col: str,
    logp: Sequence[float],
    floor: float,
    *,
    ppl_threshold: float,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-window (window_start, window_end, n_seqs, avg_ppl, n_high_ppl,
    high_ppl_share) in append mode.  ``n_seqs`` counts only scoreable
    (non-empty) sequences; ``n_high_ppl`` counts those with perplexity
    ABOVE the threshold — the gibberish/noise alert tail."""
    ppl = F.col("__ppl")
    # un-scoreable rows (NULL/empty tokens) count in no cell.  The micro
    # cell sums EXACT micro-ppl integers, not doubles: float summation is
    # order-dependent across partitions/triggers, so a window's mean
    # sitting near a 5e-7 rounding boundary would flip between runs; the
    # per-row scores are already 6-decimal, so the integer sum is
    # lossless and the mean is bit-reproducible (and oracle-
    # reproducible).  decimal(38,0), not long: 10^12 rows × ~10^7
    # micro-ppl overflows int64; decimal sums stay exact to 10^38 and
    # mirror DuckDB's HUGEINT sum
    cells = Cells(
        ppl.isNotNull(),
        {
            "n_seqs": F.lit(1),
            "__micro": F.round(ppl * 1e6).cast("decimal(38,0)"),
            "n_high_ppl": (ppl > F.lit(float(ppl_threshold))).cast("long"),
        },
    )
    scored = stream_df.withColumn("__ppl", ppl_udf(logp, floor)(F.col(tokens_col)))
    win = windowed(scored, ts_col, cells, window=window, watermark=watermark)
    n = F.col("n_seqs")
    return win.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_seqs",
        F.when(n > 0, F.round(F.col("__micro").cast("double") / (n.cast("double") * 1e6), 6))
        .alias("avg_ppl"),
        "n_high_ppl",
        share(F.col("n_high_ppl"), n).alias("high_ppl_share"),
    )
