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
state).  The only state is the watermarked windowed aggregation's
|open windows| rows of three numbers; token arrays never enter state,
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
    score = ppl_udf(logp, floor)
    # No row filter anywhere: a filter on the (deterministic) UDF output
    # can be pushed below the EventTimeWatermark node by Catalyst, so
    # un-scoreable rows (NULL/empty tokens) would stop advancing event
    # time and stall window emission.  Instead every row reaches the
    # watermark operator and un-scoreable rows drop out via conditional
    # aggregation (count/avg ignore their NULL score).
    scored = stream_df.withWatermark(ts_col, watermark).withColumn(
        "__ppl", score(F.col(tokens_col))
    )
    high = F.sum(
        F.when(F.col("__ppl") > F.lit(float(ppl_threshold)), 1).otherwise(0)
    )
    n = F.count("__ppl")
    # avg over EXACT micro-ppl integers, not doubles: float summation is
    # order-dependent across partitions/triggers, so a window's mean
    # sitting near a 5e-7 rounding boundary would flip between runs; the
    # per-row scores are already 6-decimal, so the integer sum is
    # lossless and the mean is bit-reproducible (and oracle-
    # reproducible).  decimal(38,0), not long: 10^12 rows × ~10^7
    # micro-ppl overflows int64; decimal sums stay exact to 10^38 and
    # mirror DuckDB's HUGEINT sum
    micro = F.sum(F.round(F.col("__ppl") * 1e6).cast("decimal(38,0)"))
    win = (
        scored.groupBy(F.window(F.col(ts_col), window).alias("__w"))
        .agg(
            n.alias("n_seqs"),
            F.round(micro.cast("double") / (n.cast("double") * 1e6), 6).alias(
                "avg_ppl"
            ),
            high.cast("long").alias("n_high_ppl"),
            F.when(
                n > 0, F.round(high / n.cast("double"), 6)
            ).alias("high_ppl_share"),
        )
    )
    return win.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        "n_seqs",
        "avg_ppl",
        "n_high_ppl",
        "high_ppl_share",
    )
