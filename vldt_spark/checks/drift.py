"""B7 — distribution drift: histograms → KL divergence / PSI.

The heavy part (binning + counting 10^12 rows) is a Spark aggregate with
map-side partial combine; the divergence math runs on the resulting
histogram table, which is tiny (n_bins × n_partitions rows), either as a
second small DataFrame op or driver-side numpy. Nothing row-scale ever
leaves the executors.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bin_expr(col, *, bins: int, lo: float, hi: float):
    """THE fixed-width binning expression — one formula shared by every
    batch histogram/PSI/KS check and the streaming monitors, so their bin
    values stay comparable by construction. Bin i covers
    [lo + i*w, lo + (i+1)*w); values == hi land in the last bin.
    Rejects hi <= lo loudly: a zero/negative bin width is an ANSI
    divide-by-zero deep in the executors otherwise (histogram() bumps a
    degenerate hi itself; direct callers get this guard)."""
    if hi <= lo:
        raise ValueError(f"bin_expr: need hi > lo, got lo={lo}, hi={hi}")
    w = (hi - lo) / bins
    return F.least(
        F.greatest(F.floor((col - F.lit(lo)) / F.lit(w)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")


def histogram(
    df: DataFrame,
    col: str,
    *,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
    by: str | None = None,
) -> DataFrame:
    """Fixed-width histogram of a numeric column → (bin, [by,] n).

    lo/hi default to the column min/max computed in a first cheap pass
    (pass them explicitly to fuse into one pass).
    """
    if lo is None or hi is None:
        row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    if hi <= lo:
        hi = lo + 1.0
    bin_col = bin_expr(F.col(col), bins=bins, lo=lo, hi=hi)
    keys = [bin_col.alias("bin")] + ([F.col(by)] if by else [])
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def categorical_histogram(df: DataFrame, col: str, *, by: str | None = None) -> DataFrame:
    keys = [F.col(col).alias("bin")] + ([F.col(by)] if by else [])
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def _paired_probs(
    h_ref: DataFrame, h_cur: DataFrame, *, eps: float = 1e-9
) -> DataFrame:
    """Full-outer join the two (small) histograms and normalize to probs."""
    r = h_ref.groupBy("bin").agg(F.sum("n").alias("n_ref"))
    c = h_cur.groupBy("bin").agg(F.sum("n").alias("n_cur"))
    j = r.join(c, "bin", "full_outer").fillna(0, subset=["n_ref", "n_cur"])
    tot = j.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    j = j.crossJoin(F.broadcast(tot))
    # try_divide: an empty/all-null side has total 0, and under ANSI mode
    # (Spark 4 default) a plain 0/0 raises mid-job — a degenerate side
    # should instead read as probability 0 everywhere (maximal divergence,
    # the principled verdict for "nothing vs something")
    return j.select(
        "bin",
        (F.coalesce(F.try_divide(F.col("n_ref"), F.col("tr")), F.lit(0.0)) + F.lit(eps)).alias("p"),
        (F.coalesce(F.try_divide(F.col("n_cur"), F.col("tc")), F.lit(0.0)) + F.lit(eps)).alias("q"),
    )


def kl_divergence(h_ref: DataFrame, h_cur: DataFrame) -> float:
    """KL(ref || cur) on two histogram tables (bin, n). Tiny-input op."""
    pq = _paired_probs(h_ref, h_cur)
    row = pq.agg(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))).alias("kl")).first()
    return float(row["kl"])


def psi(h_ref: DataFrame, h_cur: DataFrame) -> float:
    """Population Stability Index: sum((p-q) * ln(p/q)). <0.1 stable,
    0.1-0.25 moderate, >0.25 drifted (industry convention)."""
    pq = _paired_probs(h_ref, h_cur)
    row = pq.agg(
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi")
    ).first()
    return float(row["psi"])


def ks_from_histograms(h_ref: DataFrame, h_cur: DataFrame) -> DataFrame:
    """Binned Kolmogorov-Smirnov statistic: max |CDF_ref - CDF_cur| over
    ordered bins. Exact KS needs a global sort of raw values (infeasible at
    10^12 rows); the binned form runs entirely on the tiny histogram tables
    — the window cumulative sum orders bin-cardinality rows, never data.
    Returns a 1-row DataFrame (ks: double)."""
    from pyspark.sql import Window

    r = h_ref.groupBy("bin").agg(F.sum("n").alias("n_ref"))
    c = h_cur.groupBy("bin").agg(F.sum("n").alias("n_cur"))
    j = r.join(c, "bin", "full_outer").fillna(0, subset=["n_ref", "n_cur"])
    tot = j.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    j = j.crossJoin(F.broadcast(tot))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # try_divide + coalesce(0): an empty side's CDF reads as 0 everywhere
    # (KS = 1.0 vs anything non-empty) instead of an ANSI 0/0 crash
    cdf = j.select(
        F.coalesce(F.try_divide(F.sum("n_ref").over(w), F.col("tr")), F.lit(0.0)).alias("cr"),
        F.coalesce(F.try_divide(F.sum("n_cur").over(w), F.col("tc")), F.lit(0.0)).alias("cc"),
    )
    return cdf.agg(F.round(F.max(F.abs(F.col("cr") - F.col("cc"))), 6).alias("ks"))


def js_divergence(h_ref: DataFrame, h_cur: DataFrame, *, eps: float = 1e-9) -> DataFrame:
    """Jensen-Shannon divergence on two histogram tables (bin, n):
    JS(p, q) = KL(p||m)/2 + KL(q||m)/2 with m = (p+q)/2. Symmetric and
    bounded [0, ln 2] — unlike KL, a safe alert threshold can be set
    once for every monitored column. Same tiny-input shape as
    ``ks_from_histograms``; returns a 1-row DataFrame (js: double)."""
    pq = _paired_probs(h_ref, h_cur, eps=eps)
    m = (F.col("p") + F.col("q")) / F.lit(2.0)
    term = (
        F.col("p") * F.log(F.col("p") / m) + F.col("q") * F.log(F.col("q") / m)
    ) / F.lit(2.0)
    return pq.agg(F.round(F.sum(term), 6).alias("js"))


def chi2_from_histograms(h_ref: DataFrame, h_cur: DataFrame) -> DataFrame:
    """Pearson chi-squared statistic of the current histogram against
    expected counts scaled from the reference proportions:
    sum((n_cur - E)^2 / E) with E = total_cur * n_ref / total_ref.
    Bins with n_ref = 0 are excluded (their expectation is undefined —
    standard practice; pair with PSI, whose eps smoothing covers
    out-of-support mass). An EMPTY current histogram (tc = 0) yields a
    NULL chi2 — the statistic is undefined there, and the filter keeps
    ANSI mode from raising 0/0 mid-job (the hardening _paired_probs and
    ks already have). Tiny-input op; 1-row DataFrame (chi2: double)."""
    r = h_ref.groupBy("bin").agg(F.sum("n").alias("n_ref"))
    c = h_cur.groupBy("bin").agg(F.sum("n").alias("n_cur"))
    j = r.join(c, "bin", "full_outer").fillna(0, subset=["n_ref", "n_cur"])
    tot = j.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    j = (
        j.crossJoin(F.broadcast(tot))
        .where((F.col("n_ref") > 0) & (F.col("tc") > 0))
    )
    e = F.col("tc") * F.col("n_ref") / F.col("tr")
    return j.agg(
        F.round(F.sum((F.col("n_cur") - e) * (F.col("n_cur") - e) / e), 6).alias("chi2")
    )


def wasserstein_from_histograms(
    h_ref: DataFrame, h_cur: DataFrame, *, bin_width: float
) -> DataFrame:
    """Binned 1-Wasserstein (earth-mover) distance: sum over ordered bins
    of |CDF_ref - CDF_cur| × bin_width. Reported in the COLUMN'S OWN UNITS
    (e.g. "the token-length distribution moved ~14 tokens"), which PSI/KL
    cannot express. Same shape as ``ks_from_histograms`` — the window
    cumulative sum runs over bin-cardinality rows only.

    Supports with HOLES are handled exactly: the CDF difference is
    constant across unobserved bins, so each observed bin's |ΔCDF| is
    weighted by the gap to the NEXT observed bin (lead(bin) - bin) — a
    ref-at-bin-0 vs cur-at-bin-19 shift scores the full 19 bin widths,
    not one (summing only materialized rows understates W1 ~19×).
    Returns a 1-row DataFrame (w1: double)."""
    from pyspark.sql import Window

    r = h_ref.groupBy("bin").agg(F.sum("n").alias("n_ref"))
    c = h_cur.groupBy("bin").agg(F.sum("n").alias("n_cur"))
    j = r.join(c, "bin", "full_outer").fillna(0, subset=["n_ref", "n_cur"])
    tot = j.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    j = j.crossJoin(F.broadcast(tot))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.coalesce(F.lead("bin").over(Window.orderBy("bin")) - F.col("bin"), F.lit(1))
    cdf = j.select(
        F.coalesce(F.try_divide(F.sum("n_ref").over(w), F.col("tr")), F.lit(0.0)).alias("cr"),
        F.coalesce(F.try_divide(F.sum("n_cur").over(w), F.col("tc")), F.lit(0.0)).alias("cc"),
        gap.alias("gap"),
    )
    return cdf.agg(
        F.round(
            F.sum(F.abs(F.col("cr") - F.col("cc")) * F.col("gap") * F.lit(bin_width)), 6
        ).alias("w1")
    )


def psi_by_group(
    df: DataFrame,
    col: str,
    by: str,
    *,
    bins: int = 20,
    lo: float,
    hi: float,
    ref: DataFrame | None = None,
    eps: float = 1e-9,
) -> DataFrame:
    """Per-partition PSI (north star: per-partition drift histograms): each
    ``by`` group's distribution of ``col`` vs the reference distribution
    (default: the whole table). One histogram aggregate keyed (group, bin)
    — output cardinality |groups| × bins regardless of row count; the PSI
    reduction is a second tiny aggregate. Returns (by, psi)."""
    h, rh = _group_hists(df, col, by, bins=bins, lo=lo, hi=hi, ref=ref)
    return _group_psi_from_hists(h, rh, by, eps)


def _group_hists(
    df, col: str, by: str, *, bins: int, lo: float, hi: float, ref=None
):
    """Shared (group, bin) / reference histogram pair used by every
    *_by_group statistic: one aggregate over the data keyed (group, bin),
    one over the reference keyed bin; nulls excluded on both sides."""
    b = bin_expr(F.col(col), bins=bins, lo=lo, hi=hi)
    h = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(by), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rh = (
        (ref if ref is not None else df)
        .where(F.col(col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    return h, rh


def _group_grid(h: DataFrame, rh: DataFrame, by: str) -> DataFrame:
    """(group, bin) grid over the UNION of group and ref bins, with zero
    fill — mirrors _paired_probs' full-outer semantics. Building it from
    ref bins alone drops group mass outside the ref support: a
    fully-shifted group would get tg=0 (division by zero) and a
    partially-shifted one a silently understated statistic — failing
    exactly when drift is strongest. All inputs are histogram-cardinality
    tables (|groups| × bins), so every join here is broadcast-small."""
    all_bins = rh.select("bin").union(h.select("bin")).distinct()
    grid = h.select(by).distinct().crossJoin(all_bins)
    j = (
        grid.join(h, [by, "bin"], "left")
        .join(rh, ["bin"], "left")
        .fillna(0, subset=["n", "n_ref"])
    )
    # group totals from the FULL group histogram, not the grid join
    tg = h.groupBy(by).agg(F.sum("n").alias("tg"))
    tr = rh.agg(F.sum("n_ref").alias("tr"))
    return j.join(F.broadcast(tg), by).crossJoin(F.broadcast(tr))


def _group_psi_from_hists(h: DataFrame, rh: DataFrame, by: str, eps: float) -> DataFrame:
    j = _group_grid(h, rh, by)
    p = F.col("n_ref") / F.col("tr") + F.lit(eps)
    q = F.col("n") / F.col("tg") + F.lit(eps)
    return (
        j.groupBy(by)
        .agg(F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"))
    )


def categorical_psi_by_group(
    df: DataFrame,
    col: str,
    by: str,
    *,
    ref: DataFrame | None = None,
    eps: float = 1e-9,
) -> DataFrame:
    """Per-partition PSI of a CATEGORICAL column (e.g. each source's
    language mix vs the corpus-wide mix): category values are the bins,
    same (group, bin) aggregate shape as ``psi_by_group`` — output
    cardinality |groups| × |categories| regardless of row count. For
    unbounded-cardinality columns, pre-bucket the long tail into an
    'other' category upstream. Returns (by, psi)."""
    h = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(by), F.col(col).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rh = (
        (ref if ref is not None else df)
        .where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    return _group_psi_from_hists(h, rh, by, eps)


def ks_by_group(
    df: DataFrame,
    col: str,
    by: str,
    *,
    bins: int = 20,
    lo: float,
    hi: float,
    ref: DataFrame | None = None,
) -> DataFrame:
    """Per-partition binned KS statistic: each ``by`` group's CDF of
    ``col`` vs the reference CDF (default: the whole table), max |ΔCDF|
    over ordered bins. Same scale shape as ``psi_by_group`` — one
    (group, bin) histogram aggregate over the data, then window cumulative
    sums over the |groups| × bins grid (partitioned BY GROUP, so the
    window never sees more than ``bins`` rows per partition).
    Returns (by, ks)."""
    from pyspark.sql import Window

    h, rh = _group_hists(df, col, by, bins=bins, lo=lo, hi=hi, ref=ref)
    j = _group_grid(h, rh, by)
    win = (
        Window.partitionBy(by)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = j.select(
        F.col(by),
        (F.sum("n_ref").over(win) / F.col("tr")).alias("cr"),
        (F.sum("n").over(win) / F.col("tg")).alias("cc"),
    )
    return cdf.groupBy(by).agg(
        F.round(F.max(F.abs(F.col("cr") - F.col("cc"))), 6).alias("ks")
    )


def wasserstein_by_group(
    df: DataFrame,
    col: str,
    by: str,
    *,
    bins: int = 20,
    lo: float,
    hi: float,
    ref: DataFrame | None = None,
) -> DataFrame:
    """Per-partition binned 1-Wasserstein distance: how far each ``by``
    group's distribution of ``col`` moved from the reference (default: the
    whole table), IN THE COLUMN'S OWN UNITS — completes the per-group
    drift matrix (psi_by_group / ks_by_group / categorical_psi_by_group)
    with the magnitude-interpretable member. Same scale shape: one
    (group, bin) histogram aggregate, window cumulative sums over the
    |groups| × bins grid partitioned by group. Returns (by, w1)."""
    from pyspark.sql import Window

    bin_width = (hi - lo) / bins
    h, rh = _group_hists(df, col, by, bins=bins, lo=lo, hi=hi, ref=ref)
    j = _group_grid(h, rh, by)
    win = (
        Window.partitionBy(by)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # weight each observed bin's |ΔCDF| by the gap to the group's next
    # observed bin — exact W1 on supports with holes (see
    # wasserstein_from_histograms)
    gap = F.coalesce(
        F.lead("bin").over(Window.partitionBy(by).orderBy("bin")) - F.col("bin"),
        F.lit(1),
    )
    cdf = j.select(
        F.col(by),
        (F.sum("n_ref").over(win) / F.col("tr")).alias("cr"),
        (F.sum("n").over(win) / F.col("tg")).alias("cc"),
        gap.alias("gap"),
    )
    return cdf.groupBy(by).agg(
        F.round(
            F.sum(F.abs(F.col("cr") - F.col("cc")) * F.col("gap") * F.lit(bin_width)), 6
        ).alias("w1")
    )


def drift_report(
    ref: DataFrame,
    cur: DataFrame,
    *,
    numeric_cols: Sequence[str] = (),
    categorical_cols: Sequence[str] = (),
    bins: int = 20,
) -> list[dict]:
    """PSI + KL per monitored column; one histogram agg per side per column
    (each a single partial-agg shuffle of bin-cardinality output)."""
    out = []
    for c in numeric_cols:
        row = ref.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).first()
        lo, hi = float(row["lo"]), float(row["hi"])
        hr = histogram(ref, c, bins=bins, lo=lo, hi=hi)
        hc = histogram(cur, c, bins=bins, lo=lo, hi=hi)
        out.append(
            {"column": c, "kind": "numeric", "psi": psi(hr, hc), "kl": kl_divergence(hr, hc)}
        )
    for c in categorical_cols:
        hr = categorical_histogram(ref, c)
        hc = categorical_histogram(cur, c)
        out.append(
            {"column": c, "kind": "categorical", "psi": psi(hr, hc), "kl": kl_divergence(hr, hc)}
        )
    return out


def embedding_drift(
    cur: DataFrame,
    ref: DataFrame,
    *,
    vec_col: str = "embedding",
    by: str | None = None,
) -> DataFrame:
    """Embedding-space drift: per-group centroid of ``cur`` vs the global
    centroid of ``ref`` — cosine similarity and L2 distance between the
    mean vectors, the standard cheap monitor for "did this source's /
    this week's embedding distribution move?".

    Scale shape (the point at 10^9+ vectors): posexplode turns each
    vector into dim (pos, v) rows that are immediately partial-averaged
    MAP-SIDE, so the only row-scale work is the scan — the first shuffle
    carries |groups| x dim partial (sum, count) pairs, the reference
    side reduces to dim rows and broadcasts, and the final per-group
    combine is another |groups| x dim aggregate. No vector payload is
    ever shuffled and nothing is driver-side. Null vectors drop at
    posexplode (reported n counts non-null vectors); mixed-length
    vectors are the caller's schema bug — positions beyond a short
    vector simply don't contribute.

    Returns (group?, n, centroid_cosine, centroid_l2); cosine is null
    for a zero centroid (try_divide semantics).
    """
    gcols = [by] if by else []
    cur_c = (
        cur.select(*gcols, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(*gcols, "pos")
        .agg(F.avg("v").alias("c"), F.count("v").alias("n"))
    )
    ref_c = (
        ref.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg("v").alias("r"))
    )
    joined = cur_c.join(F.broadcast(ref_c), "pos")
    return (
        joined.groupBy(*gcols)
        .agg(
            F.max("n").alias("n"),
            F.sum(F.col("c") * F.col("r")).alias("_dot"),
            F.sum(F.col("c") * F.col("c")).alias("_cc"),
            F.sum(F.col("r") * F.col("r")).alias("_rr"),
            F.sum(F.pow(F.col("c") - F.col("r"), F.lit(2))).alias("_sq"),
        )
        .select(
            *gcols,
            "n",
            F.try_divide(
                F.col("_dot"), F.sqrt(F.col("_cc") * F.col("_rr"))
            ).alias("centroid_cosine"),
            F.sqrt("_sq").alias("centroid_l2"),
        )
    )


def js_by_group(
    df: DataFrame,
    col: str,
    by: str,
    *,
    bins: int = 20,
    lo: float,
    hi: float,
    ref: DataFrame | None = None,
    eps: float = 1e-9,
) -> DataFrame:
    """Per-partition Jensen-Shannon divergence: each ``by`` group's binned
    distribution of ``col`` vs the reference (default: the whole table).
    Symmetric and bounded [0, ln 2], so ONE alert threshold serves every
    group — the property per-group KL/PSI lack. Same scale shape as
    psi_by_group: one (group, bin) aggregate; everything after is
    histogram-cardinality. Returns (by, js)."""
    h, rh = _group_hists(df, col, by, bins=bins, lo=lo, hi=hi, ref=ref)
    j = _group_grid(h, rh, by)
    p = F.coalesce(F.try_divide(F.col("n_ref"), F.col("tr")), F.lit(0.0)) + F.lit(eps)
    q = F.coalesce(F.try_divide(F.col("n"), F.col("tg")), F.lit(0.0)) + F.lit(eps)
    m = (p + q) / F.lit(2.0)
    term = (p * F.log(p / m) + q * F.log(q / m)) / F.lit(2.0)
    return j.groupBy(by).agg(F.round(F.sum(term), 6).alias("js"))


def chi2_by_group(
    df: DataFrame,
    col: str,
    by: str,
    *,
    bins: int = 20,
    lo: float,
    hi: float,
    ref: DataFrame | None = None,
) -> DataFrame:
    """Per-partition Pearson chi-squared: each group's binned counts of
    ``col`` against expectations scaled from the reference proportions
    (E_bin = group_total · n_ref / ref_total); ref-empty bins excluded,
    matching chi2_from_histograms. Returns (by, chi2)."""
    h, rh = _group_hists(df, col, by, bins=bins, lo=lo, hi=hi, ref=ref)
    j = _group_grid(h, rh, by).where(F.col("n_ref") > 0)
    e = F.col("tg") * F.col("n_ref") / F.col("tr")
    return j.groupBy(by).agg(
        F.round(F.sum((F.col("n") - e) * (F.col("n") - e) / e), 6).alias("chi2")
    )


def drift_by_window(
    df: DataFrame,
    ts_col: str,
    col: str,
    *,
    unit: str = "day",
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
    eps: float = 1e-9,
) -> DataFrame:
    """Temporal drift: each calendar window's distribution of ``col``
    against the PREVIOUS observed window's — "did yesterday's ingest
    drift from the day before", the batch companion of
    ``streaming/drift_stream.py`` (which compares windows to a FIXED
    reference frame; this compares neighbours, catching gradual drift a
    fixed frame dilutes).

    Windows are ``date_trunc(unit, ts)`` buckets (unit ∈ minute / hour /
    day / week / month — calendar-stable, so the same row lands in the
    same window on any cluster); "previous" means the previous window
    THAT HAS DATA, so gaps in the feed don't silently produce no-op
    comparisons. Bin edges are global (one min/max pass when lo/hi are
    not pinned) — per-window edges would make PSI incomparable across
    pairs.

    Returns (window_start, prev_window_start, n_cur, n_prev, psi, js),
    ordered by window_start, one row per consecutive-window pair.

    Scale: ONE (window, bin) histogram aggregate over the fact table —
    output |windows| × bins regardless of row count — then
    window-pairing and both divergences run on that histogram-sized
    relation (the lag over distinct window starts touches |windows|
    rows; a year of hourly windows is 8.8k rows on one reducer, nothing).
    """
    if lo is None or hi is None:
        row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    if hi <= lo:
        hi = lo + 1.0
    w = F.date_trunc(unit, F.col(ts_col))
    h = (
        df.where(F.col(col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(
            w.alias("window_start"),
            bin_expr(F.col(col), bins=bins, lo=lo, hi=hi).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as W

    pairs = (
        h.select("window_start")
        .distinct()
        .select(
            "window_start",
            F.lag("window_start").over(W.orderBy("window_start")).alias(
                "prev_window_start"
            ),
        )
        .where(F.col("prev_window_start").isNotNull())
    )
    all_bins = h.select("bin").distinct()
    grid = pairs.crossJoin(F.broadcast(all_bins))
    cur = h.select("window_start", "bin", F.col("n").alias("n_c"))
    prv = h.select(
        F.col("window_start").alias("prev_window_start"),
        "bin",
        F.col("n").alias("n_p"),
    )
    tot = h.groupBy("window_start").agg(F.sum("n").alias("t"))
    j = (
        grid.join(cur, ["window_start", "bin"], "left")
        .join(prv, ["prev_window_start", "bin"], "left")
        .fillna(0, subset=["n_c", "n_p"])
        .join(
            F.broadcast(tot.select(F.col("window_start"), F.col("t").alias("t_c"))),
            "window_start",
        )
        .join(
            F.broadcast(
                tot.select(
                    F.col("window_start").alias("prev_window_start"),
                    F.col("t").alias("t_p"),
                )
            ),
            "prev_window_start",
        )
    )
    p = F.col("n_p") / F.col("t_p") + F.lit(eps)   # previous window = reference
    q = F.col("n_c") / F.col("t_c") + F.lit(eps)
    m = (p + q) / F.lit(2.0)
    js_term = (p * F.log(p / m) + q * F.log(q / m)) / F.lit(2.0)
    return (
        j.groupBy("window_start", "prev_window_start")
        .agg(
            F.max("t_c").cast("bigint").alias("n_cur"),
            F.max("t_p").cast("bigint").alias("n_prev"),
            F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
            F.round(F.sum(js_term), 6).alias("js"),
        )
        .orderBy("window_start")
    )


def token_unigram_drift(
    df_ref: DataFrame,
    df_cur: DataFrame,
    vocab_size: int,
    *,
    tokens_col: str = "tokens",
    eps: float = 1e-9,
) -> DataFrame:
    """Tokenizer/corpus-shift check over PRE-TOKENIZED sequences: PSI +
    JS + KL between the two corpora's exact unigram TOKEN-ID
    distributions — the id-level companion of ``kl_token_length`` (which
    drifts lengths) and ``source_frequency`` drift (which drifts
    provenance). A retrained tokenizer, a new scrape, or a filtering
    change all move this before they move anything else.

    Scale shape: each side's histogram is ``token_histogram``'s native
    map-side-combined count (token arrays never ride a shuffle; the
    exchange is at most |distinct tokens| + 1 partial rows per
    partition), and the metric join is the standard tiny-input (bin, n)
    full-outer + eps-smoothed probabilities (``_paired_probs``), identical smoothing
    and rounding to the rest of the drift family. OOV ids fold into the
    token = -1 bin on both sides so mass is conserved. Returns one row
    (psi, js, kl) rounded to 6."""
    from vldt_spark.functions.tokens import token_histogram

    h_ref = token_histogram(df_ref, vocab_size, tokens_col).select(
        F.col("token").alias("bin"), F.col("cnt").alias("n")
    )
    h_cur = token_histogram(df_cur, vocab_size, tokens_col).select(
        F.col("token").alias("bin"), F.col("cnt").alias("n")
    )
    pq = _paired_probs(h_ref, h_cur, eps=eps)
    p, q = F.col("p"), F.col("q")
    m = (p + q) / F.lit(2.0)
    return pq.agg(
        F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
        F.round(F.sum((p * F.log(p / m) + q * F.log(q / m)) / 2), 6).alias("js"),
        F.round(F.sum(p * F.log(p / q)), 6).alias("kl"),
    )
