"""Continuous distribution-drift monitoring (streaming B7).

Per event-time window: bin the monitored column, count per (window, bin)
(stateful agg #1), stream-static join the reference histogram (stateless),
then reduce to one PSI per window (stateful agg #2 — chained time-window
aggregations are supported with watermarks on Spark 3.5+). Output is one
row per closed window: the same PSI number the batch check produces,
continuously.

State is bounded: |windows in flight| × bins rows for the first agg,
|windows| for the second; the reference histogram is a broadcast-sized
static table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bin_col(col: Column, *, bins: int, lo: float, hi: float) -> Column:
    """Same fixed-width binning as checks/drift — delegates to the ONE
    shared ``bin_expr`` so batch and stream bin values stay comparable by
    construction."""
    from vldt_spark.checks.drift import bin_expr

    return bin_expr(col, bins=bins, lo=lo, hi=hi)


def _ref_probs(ref_hist: DataFrame) -> dict[int, float]:
    """Static reference histogram → per-bin probabilities embedded as
    driver-side literals (the reference never changes mid-stream, and a
    stream-stream join after aggregation is forbidden anyway)."""
    rows = ref_hist.groupBy("bin").agg(F.sum("n").alias("n_ref")).collect()
    tot = float(sum(r["n_ref"] for r in rows)) or 1.0
    return {int(r["bin"]): r["n_ref"] / tot for r in rows}


def _psi_literal_expr(
    ref_p: dict[int, float], bins: int, eps: float, m_col: Column, tc: Column
) -> Column:
    """PSI of a per-window bin→count map column vs literal ref
    probabilities — the single formula both the global and the per-group
    stream monitors (and therefore both oracles) share."""
    terms = []
    for b in range(bins):
        p = ref_p.get(b, 0.0) + eps
        q = F.coalesce(m_col.getItem(b), F.lit(0)).cast("double") / tc + eps
        terms.append((F.lit(p) - q) * F.log(F.lit(p) / q))
    expr = terms[0]
    for t in terms[1:]:
        expr = expr + t
    return expr


def stream_psi(
    stream_df: DataFrame,
    ref_hist: DataFrame,
    value_col: str,
    ts_col: str,
    *,
    bins: int,
    lo: float,
    hi: float,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    eps: float = 1e-9,
) -> DataFrame:
    """Per-window PSI of ``value_col``'s distribution vs ``ref_hist``
    (a static (bin, n_ref) table, e.g. from checks/drift.histogram).

    Returns a streaming DataFrame (window_start, window_end, n_rows, psi);
    use append mode — rows emit when the watermark closes the window.

    The reference is STATIC, so its per-bin probabilities are embedded as
    driver-side literals — the whole PSI reduction then fits in ONE chained
    aggregation (window×bin counts → per-window map → literal-vs-map PSI
    expression), avoiding the stream-stream join Spark forbids after
    aggregation."""
    return _windowed_psi(
        stream_df, ref_hist, value_col, ts_col, [], bins, lo, hi, window, watermark, eps
    )


def stream_psi_by_group(
    stream_df: DataFrame,
    ref_hist: DataFrame,
    value_col: str,
    ts_col: str,
    by: str,
    *,
    bins: int,
    lo: float,
    hi: float,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    eps: float = 1e-9,
) -> DataFrame:
    """Per-(window, group) PSI — the streaming twin of
    ``checks.drift.psi_by_group``: each ``by`` group's per-window
    distribution vs the static reference histogram. Same chained
    aggregation design as ``stream_psi`` with the group key carried
    through both stateful aggregations, so state stays bounded at
    |windows in flight| × |groups| × bins for stage 1 and
    |windows| × |groups| for stage 2. Returns (window_start, window_end,
    <by>, n_rows, psi); append mode — rows emit when the watermark closes
    a window. At 10^12 rows the group column must be bounded-cardinality
    (source/partition keys, not doc ids) — the same requirement the batch
    check has."""
    return _windowed_psi(
        stream_df, ref_hist, value_col, ts_col, [by], bins, lo, hi, window, watermark, eps
    )


def _windowed_psi(stream_df, ref_hist, value_col, ts_col, by, bins, lo, hi, window, watermark, eps):
    """``stream_psi`` per ``by`` group: (window_start, window_end, by...,
    n_rows, psi)."""
    ref_p = _ref_probs(ref_hist)
    keys = [F.col(c) for c in by]
    v = F.col(value_col)
    # no row filter below the watermark (see ``cells``): a NULL value gets
    # a NULL bin, which still advances event time and counts nowhere
    binned = stream_df.withWatermark(ts_col, watermark).select(
        F.col(ts_col),
        *keys,
        F.when(v.isNotNull(), bin_col(v, bins=bins, lo=lo, hi=hi)).alias("bin"),
    )
    win_hist = binned.groupBy(
        F.window(F.col(ts_col), window), *keys, F.col("bin")
    ).agg(F.count(F.lit(1)).alias("n_cur"))
    # chained time-window aggregation (Spark 3.5+): re-window on the event
    # time of the first window so the watermark propagates downstream
    valid = F.col("bin").isNotNull()
    per_win = win_hist.groupBy(
        F.window(F.window_time(F.col("window")), window).alias("window"), *keys
    ).agg(
        F.sum(F.when(valid, F.col("n_cur"))).alias("n_rows"),
        F.map_from_entries(
            F.collect_list(F.when(valid, F.struct(F.col("bin"), F.col("n_cur"))))
        ).alias("m"),
    ).where(F.col("n_rows").isNotNull())
    psi_expr = _psi_literal_expr(
        ref_p, bins, eps, F.col("m"), F.col("n_rows").cast("double")
    )
    return per_win.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *keys,
        "n_rows",
        F.round(psi_expr, 6).alias("psi"),
    )


def _ref_centroid(ref: DataFrame, vec_col: str) -> dict[int, float]:
    """Static reference frame → per-position centroid means embedded as
    driver-side literals (dim-bounded, same rationale as ``_ref_probs``:
    the reference never changes mid-stream and a stream-static join after
    the chained aggregation is forbidden anyway)."""
    rows = (
        ref.where(F.col(vec_col).isNotNull())
        .select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg("v").alias("r"))
        .collect()
    )
    # keep positions whose reference mean is NULL (all-null in every ref
    # vector) as None entries: the batch check's inner join still counts
    # the CURRENT side's mean² at those positions in _cc, so they must
    # stay in the dimension range (dropping them entirely made the
    # streaming cosine read 1.0 where batch reads 0.6)
    return {int(r["pos"]): (None if r["r"] is None else float(r["r"])) for r in rows}


def stream_centroid_drift(
    stream_df: DataFrame,
    ref: DataFrame,
    vec_col: str,
    ts_col: str,
    *,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-window embedding-centroid drift — the streaming twin of
    ``checks.drift.embedding_drift``: cosine + L2 between each event-time
    window's mean vector and the static reference frame's centroid.

    Same chained-aggregation design as ``stream_psi``: posexplode fans
    each vector into dim (pos, v) rows that the first stateful agg
    partial-combines into per-(window, pos) (sum, count) — state
    |windows in flight| x dim — and the second chained agg folds each
    window's dim entries into one row. Cosine AND L2 replicate the batch
    ``embedding_drift`` algebra exactly, per term: every statistic folds
    the per-position MEAN (sum / that position's own count) and skips a
    position exactly when the batch sum would skip it — a null current
    mean drops out of every term; a null REFERENCE mean still contributes
    the current mean² to the cosine denominator (mirroring the batch
    inner join, where c·c does not involve r); the reference-norm term
    r² counts only positions the window actually has (the batch join
    drops cur-absent positions from _rr). Sum-based cosine — the obvious
    shortcut — diverges whenever null elements make per-position counts
    differ, because the sum vector stops being a scalar multiple of the
    mean vector. Returns a streaming frame
    (window_start, window_end, n_rows, centroid_cosine, centroid_l2);
    append mode — rows emit when the watermark closes a window. Cosine
    is null for a zero window-centroid (try_divide semantics).
    """
    rc = _ref_centroid(ref, vec_col)
    if not rc:
        raise ValueError(
            "stream_centroid_drift: reference frame has no non-null "
            f"vectors in column {vec_col!r} — no centroid exists to "
            "monitor against"
        )
    dim = max(rc) + 1

    # no row filter below the watermark (see ``cells``): a NULL or empty
    # vector explodes to one NULL position, which still advances event
    # time and counts nowhere
    exploded = stream_df.withWatermark(ts_col, watermark).select(
        F.col(ts_col), F.posexplode_outer(vec_col).alias("pos", "v")
    )
    win_sums = exploded.groupBy(F.window(F.col(ts_col), window), F.col("pos")).agg(
        F.sum("v").alias("s"), F.count("v").alias("c")
    )
    at = F.col("pos").isNotNull()
    per_win = win_sums.groupBy(
        F.window(F.window_time(F.col("window")), window).alias("window")
    ).agg(
        F.max(F.when(at, F.col("c"))).alias("n_rows"),
        F.map_from_entries(
            F.collect_list(F.when(at, F.struct(F.col("pos"), F.struct(F.col("s"), F.col("c")))))
        ).alias("m"),
    ).where(F.col("n_rows").isNotNull())

    def mean_raw(i: int) -> Column:
        # NULL when the window has no non-null value at position i (or the
        # position is absent) — the batch sums skip exactly those terms
        return F.try_divide(
            F.col("m").getItem(i).getField("s"),
            F.col("m").getItem(i).getField("c").cast("double"),
        )

    def fold(terms: list[Column]) -> Column:
        expr = terms[0]
        for t in terms[1:]:
            expr = expr + t
        return expr

    z = F.lit(0.0)
    ref_pos = [i for i in range(dim) if rc.get(i) is not None]
    # cc: current mean² over every position the window has — INCLUDING
    # positions whose reference mean is null (batch: c·c doesn't touch r)
    cc = fold([F.coalesce(mean_raw(i) * mean_raw(i), z) for i in range(dim)])
    # dot / rr / sq: only positions with a non-null reference mean, and
    # (for rr) only those the window actually materialized — the batch
    # inner join drops cur-absent positions from the reference norm
    dot_raw = fold([F.coalesce(mean_raw(i) * F.lit(rc[i]), z) for i in ref_pos]) if ref_pos else z
    rr = (
        fold(
            [
                F.when(F.col("m").getItem(i).isNotNull(), F.lit(rc[i] * rc[i])).otherwise(z)
                for i in ref_pos
            ]
        )
        if ref_pos
        else z
    )
    sq_raw = (
        fold([F.coalesce(F.pow(mean_raw(i) - F.lit(rc[i]), F.lit(2)), z) for i in ref_pos])
        if ref_pos
        else z
    )
    # number of positions contributing joint terms: when zero, the batch
    # sums are NULL (not 0) — mirror that so cosine/L2 read null, not 0
    cnt = (
        fold([F.when(mean_raw(i).isNotNull(), F.lit(1)).otherwise(F.lit(0)) for i in ref_pos])
        if ref_pos
        else F.lit(0)
    )
    dot = F.when(cnt > 0, dot_raw)
    sq = F.when(cnt > 0, sq_raw)
    return per_win.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_rows",
        F.try_divide(dot, F.sqrt(cc * rr)).alias("centroid_cosine"),
        F.sqrt(sq).alias("centroid_l2"),
    )
