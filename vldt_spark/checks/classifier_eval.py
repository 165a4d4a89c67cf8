"""Classifier evaluation — exact ROC AUC, calibration bins, ECE.

A model-based quality filter (``functions/text.classifier_quality_score``,
the DCLM/fineweb-style shape) is only trustworthy if its RANKING separates
known-bad from known-good documents and its PROBABILITIES mean what they
say. This module evaluates both, distributed, without ever globally
sorting the fact table:

- ``auc_report`` — exact tie-aware ROC AUC (equivalently the Mann-Whitney
  U statistic). The textbook formula ranks every row — a full sort at
  10^12 rows. Instead: ONE hash aggregate groups by distinct score value
  (pos/neg counts per score; map-side partial combine, so the exchange
  carries |distinct scores| rows, not |rows|), then a single-partition
  running sum over that bounded relation gives, per score s,
  ``cumneg(s)`` = negatives strictly below s. The tie-aware identity

      AUC = Σ_s pos_s · (cumneg(s) + neg_s / 2) / (P · N)

  is computed with INTEGER numerators (×2 to clear the /2, cast to
  decimal(38,0) — P·N at 10^12 rows overflows int64) so the result is
  exact, not float-fold-order-dependent. The single-partition window is
  safe because its input is the grouped-by-score relation, whose size is
  bounded by the score's distinct count — for a real classifier that is
  at most the quantization grid (pass ``quantize=``), never |rows|.

- ``calibration_report`` — reliability-diagram bins: score ∈ [0,1] is
  clamped and floored into ``n_bins`` equal-width bins; per bin the row
  count, positive rate, and mean score come from one hash aggregate whose
  exchange carries ≤ n_bins partials. Mean scores use exact integer
  micro-sums (round(score·1e6) summed as decimal(38,0) — the same
  fold-order-proof pattern as the suite's micro-ppl sums) so bin means
  are deterministic at any partitioning.

- ``ece_report`` — expected calibration error folded to one row. With
  S_b the micro-score sum and pos_b/n_b the bin's positives/count,

      ECE = Σ_b (n_b/N) · |pos_b/n_b − S_b/(n_b·1e6)|
          = Σ_b |pos_b·1e6 − S_b| / (N·1e6)

  — every numerator an exact integer, so the scalar is bit-deterministic.

NULL scores and NULL labels are excluded (no opinion is not a wrong
opinion); a single-class input (P = 0 or N = 0) yields NULL auc rather
than a misleading 0/1.

Reference parity note: roman-right/vldt (see /root/reference/vldt) has no
model-evaluation surface; this is north-star territory — the governance
arm that makes the model-shaped quality filter auditable at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vldt_spark.cells import Cells, grouped

_MICRO = 1_000_000


def _micro_sum(col: Column) -> Column:
    """Exact integer micro-unit sum: float folds are partition-order
    dependent; decimal(38,0) holds 10^12 rows × 1e6 micro-units."""
    return F.sum(F.round(col * _MICRO).cast("decimal(38,0)"))


def _score_label(
    df: DataFrame, score_col: str, label_col: str, *, quantize: int | None
) -> DataFrame:
    s = F.col(score_col).cast("double")
    if quantize is not None:
        if quantize <= 0:
            raise ValueError(f"quantize must be positive, got {quantize}")
        s = F.round(s * quantize) / quantize
    y = F.col(label_col).cast("boolean").cast("long")
    return df.select(s.alias("__s"), y.alias("__y")).where(
        F.col("__s").isNotNull() & F.col("__y").isNotNull()
    )


def auc_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    quantize: int | None = None,
) -> DataFrame:
    """Exact tie-aware ROC AUC of ``score_col`` against boolean/0-1
    ``label_col``. Returns ONE row:

      auc, gini (= 2·auc − 1), n_pos, n_neg, n_scores (distinct values).

    ``quantize=k`` snaps scores to a 1/k grid FIRST (round-half-up) —
    the 100 TB knob: it bounds the grouped relation (and the
    single-partition running sum) at k+1 rows no matter the corpus size,
    trading only sub-1/k ranking resolution. Tie handling is the exact
    midrank convention, so quantize-induced ties are scored correctly,
    not dropped. Single-class input → NULL auc/gini.
    """
    per_score = (
        _score_label(df, score_col, label_col, quantize=quantize)
        .groupBy("__s")
        .agg(
            F.sum("__y").alias("pos"),
            F.sum(F.lit(1) - F.col("__y")).alias("neg"),
        )
    )
    # running sum over the |distinct scores|-bounded relation only
    below = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "cumneg", F.coalesce(F.sum("neg").over(below), F.lit(0))
    )
    dec = "decimal(38,0)"
    agg = ranked.agg(
        # Σ pos·(2·cumneg + neg) — twice the Mann-Whitney U, integer-exact
        F.sum(
            F.col("pos").cast(dec)
            * (F.lit(2).cast(dec) * F.col("cumneg").cast(dec) + F.col("neg").cast(dec))
        ).alias("u2"),
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.col("u2").cast("double")
        / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
    )
    return agg.select(
        F.round(auc, 6).alias("auc"),
        F.round(2.0 * auc - 1.0, 6).alias("gini"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.col("n_scores").cast("long").alias("n_scores"),
    )


def auc_by_group(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | str,
    *,
    quantize: int | None = None,
) -> DataFrame:
    """Slice-wise ROC AUC: one row per group — a filter model can rank
    well in aggregate while failing a language or source slice outright,
    and the corpus-level number hides it. Same sort-free shape as
    ``auc_report`` with every stage keyed by the group: the per-(group,
    score) hash aggregate's exchange carries |groups| × |distinct scores|
    rows, and the running sum partitions BY GROUP, so no single-partition
    stage exists at all — slices scale independently. Single-class groups
    report NULL auc (visible, not silently dropped)."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if not groups:
        raise ValueError("group_cols must name at least one column")
    s = F.col(score_col).cast("double")
    if quantize is not None:
        if quantize <= 0:
            raise ValueError(f"quantize must be positive, got {quantize}")
        s = F.round(s * quantize) / quantize
    y = F.col(label_col).cast("boolean").cast("long")
    sl = df.select(
        *groups, s.alias("__s"), y.alias("__y")
    ).where(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    per_score = sl.groupBy(*groups, "__s").agg(
        F.sum("__y").alias("pos"),
        F.sum(F.lit(1) - F.col("__y")).alias("neg"),
    )
    below = (
        Window.partitionBy(*groups)
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = per_score.withColumn(
        "cumneg", F.coalesce(F.sum("neg").over(below), F.lit(0))
    )
    dec = "decimal(38,0)"
    agg = ranked.groupBy(*groups).agg(
        F.sum(
            F.col("pos").cast(dec)
            * (F.lit(2).cast(dec) * F.col("cumneg").cast(dec) + F.col("neg").cast(dec))
        ).alias("u2"),
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.col("u2").cast("double")
        / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
    )
    return agg.select(
        *groups,
        F.round(auc, 6).alias("auc"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.col("n_scores").cast("long").alias("n_scores"),
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a probability-shaped score. Scores are
    clamped to [0,1] and floored into ``n_bins`` equal-width bins (score
    1.0 joins the top bin). Per non-empty bin:

      bin, n, n_pos, pos_rate, mean_score

    One hash aggregate; the exchange carries ≤ n_bins partials per map
    task. pos_rate and mean_score are ratios of exact integers (micro-sum
    pattern), rounded to 6 dp — deterministic under any partitioning.
    """
    if n_bins <= 0:
        raise ValueError(f"n_bins must be positive, got {n_bins}")
    sl = _score_label(df, score_col, label_col, quantize=None)
    clamped = F.least(F.greatest(F.col("__s"), F.lit(0.0)), F.lit(1.0))
    b = F.least(
        F.floor(clamped * n_bins).cast("int"), F.lit(n_bins - 1)
    ).alias("bin")
    return (
        sl.select(b, clamped.alias("__c"), "__y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("n_pos"),
            _micro_sum(F.col("__c")).alias("__ms"),
        )
        .select(
            "bin",
            F.col("n").cast("long").alias("n"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.round(F.col("n_pos") / F.col("n"), 6).alias("pos_rate"),
            F.round(
                F.col("__ms").cast("double") / (F.col("n") * float(_MICRO)), 6
            ).alias("mean_score"),
        )
        .orderBy("bin")
    )


def brier_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Brier score — mean squared error of the probability forecast —
    folded to ONE row: brier, n. Complements AUC (pure ranking) and ECE
    (binned calibration): Brier is the proper scoring rule that punishes
    BOTH miscalibration and non-resolution, unbinned.

    Exactness: with m = round(score·1e6) the per-row term
    (score − y)² ≈ ((m − y·1e6)/1e6)² has an INTEGER numerator
    (m − y·1e6)², summed as decimal(38,0) (10^12 rows × ≤1e12 per term
    fits), so the scalar is fold-order-proof; the ≤5e-7 per-row
    quantization of m is the same 6-dp convention every oracle-checked
    metric in this repo uses. Scores are clamped to [0,1] first
    (a probability outside the unit interval is a caller bug we surface
    via the clamp, not a reason to emit a >1 Brier term). Empty input →
    NULL brier."""
    sl = _score_label(df, score_col, label_col, quantize=None)
    clamped = F.least(F.greatest(F.col("__s"), F.lit(0.0)), F.lit(1.0))
    m = F.round(clamped * _MICRO)
    dec = "decimal(38,0)"
    term = (m - F.col("__y") * _MICRO).cast(dec)
    agg = sl.agg(
        F.sum(term * term).alias("num"),
        F.count(F.lit(1)).alias("n"),
    )
    brier = F.when(
        F.col("n") > 0,
        F.col("num").cast("double") / (F.col("n").cast("double") * float(_MICRO) ** 2),
    )
    return agg.select(
        F.round(brier, 6).alias("brier"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
    )


def confusion_cells(score: Column, label: Column, threshold: float) -> Cells:
    """The confusion family's cells at ``score >= threshold`` against
    boolean/0-1 ``label``, shared by `confusion_report` and
    `streaming.clf_stream.stream_confusion_windows`: tp, fp, fn, tn.  A
    row with a NULL score or label carries no verdict and counts in no
    cell."""
    s = score.cast("double")
    y = label.cast("boolean").cast("long")
    pred = (s >= F.lit(float(threshold))).cast("long")
    return Cells(
        s.isNotNull() & y.isNotNull(),
        {"tp": pred * y, "fp": pred * (1 - y), "fn": (1 - pred) * y, "tn": (1 - pred) * (1 - y)},
    )


def confusion_ratios(tp: Column, fp: Column, fn: Column, tn: Column) -> dict[str, Column]:
    """precision, recall, f1 and accuracy of confusion counts, unrounded;
    a zero denominator gives NULL, never a fake 0."""
    tp, fp, fn, tn = (c.cast("double") for c in (tp, fp, fn, tn))
    precision = F.when(tp + fp > 0, tp / (tp + fp))
    recall = F.when(tp + fn > 0, tp / (tp + fn))
    f1 = F.when(
        precision.isNotNull() & recall.isNotNull() & (precision + recall > 0),
        2 * precision * recall / (precision + recall),
    )
    n = tp + fp + fn + tn
    return {
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "accuracy": F.when(n > 0, (tp + tn) / n),
    }


def confusion_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    threshold: float = 0.5,
) -> DataFrame:
    """Operating-point metrics for the deployed filter threshold: ONE row
    with tp/fp/fn/tn counts plus precision, recall, f1, accuracy at
    ``score >= threshold``. AUC certifies the ranking; this certifies
    the CUT the pipeline actually applies (the quality filter ships with
    one threshold, and its junk leak-through rate is 1 − precision of
    the keep side). One conditional aggregate over a single scan
    (`confusion_cells`) — four long partials per map task, no shuffle of
    anything row-sized. Zero-denominator slices (no predicted positives /
    no actual positives) report NULL precision/recall/f1 rather than a
    fake 0."""
    counts = grouped(df, [], confusion_cells(F.col(score_col), F.col(label_col), threshold))
    ratios = confusion_ratios(*(F.col(c) for c in ("tp", "fp", "fn", "tn")))
    return counts.select(
        "tp", "fp", "fn", "tn", *[F.round(c, 6).alias(k) for k, c in ratios.items()]
    )


def ece_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Expected calibration error folded to ONE row:

      ece, n, n_bins_used

    ECE = Σ_b |pos_b·1e6 − S_b| / (N·1e6) with S_b the bin's integer
    micro-score sum — every numerator exact, so the scalar is
    bit-deterministic at any scale. Empty input → NULL ece.
    """
    if n_bins <= 0:
        raise ValueError(f"n_bins must be positive, got {n_bins}")
    sl = _score_label(df, score_col, label_col, quantize=None)
    clamped = F.least(F.greatest(F.col("__s"), F.lit(0.0)), F.lit(1.0))
    b = F.least(
        F.floor(clamped * n_bins).cast("int"), F.lit(n_bins - 1)
    ).alias("bin")
    dec = "decimal(38,0)"
    bins = (
        sl.select(b, clamped.alias("__c"), "__y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("n_pos"),
            _micro_sum(F.col("__c")).alias("ms"),
        )
    )
    agg = bins.agg(
        F.sum(
            F.abs(
                F.col("n_pos").cast(dec) * F.lit(_MICRO).cast(dec) - F.col("ms")
            )
        ).alias("num"),
        F.sum("n").alias("n"),
        F.count(F.lit(1)).alias("n_bins_used"),
    )
    ece = F.when(
        F.col("n") > 0,
        F.col("num").cast("double") / (F.col("n").cast("double") * _MICRO),
    )
    return agg.select(
        F.round(ece, 6).alias("ece"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.col("n_bins_used").cast("long").alias("n_bins_used"),
    )

def _per_score_curve(
    df: DataFrame, score_col: str, label_col: str, *, quantize: int | None
) -> DataFrame:
    """Shared PR/threshold-curve relation: one row per DISTINCT score
    value carrying the operating point of the cut ``score >= s``:

      __s, pos, neg (rows AT this score), tp, fp (cuts at >= __s),
      p, n (class totals).

    Same scale shape as ``auc_report``: ONE score-keyed hash aggregate
    (map-side partial combine — the exchange carries |distinct scores|
    rows, never |rows|), then running sums over that bounded relation in
    DESCENDING score order. ``quantize=k`` bounds the relation at k+1
    rows for continuous scores. The fact table never globally sorts."""
    per_score = (
        _score_label(df, score_col, label_col, quantize=quantize)
        .groupBy("__s")
        .agg(
            F.sum("__y").alias("pos"),
            F.sum(F.lit(1) - F.col("__y")).alias("neg"),
        )
    )
    at_or_above = Window.orderBy(F.desc("__s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    whole = Window.orderBy(F.desc("__s")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_score.select(
        "__s",
        "pos",
        "neg",
        F.sum("pos").over(at_or_above).alias("tp"),
        F.sum("neg").over(at_or_above).alias("fp"),
        F.sum("pos").over(whole).alias("p"),
        F.sum("neg").over(whole).alias("n"),
    )


def pr_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    quantize: int | None = None,
) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    interpolation) of ``score_col`` against boolean/0-1 ``label_col``.
    Returns ONE row:

      average_precision, baseline (= P/(P+N), a random ranker's AP),
      lift (= AP / baseline), n_pos, n_neg, n_scores.

    ROC AUC is insensitive to class imbalance — exactly the regime of a
    quality filter hunting a small junk minority; AP weighs precision at
    every achieved recall level, so it degrades when the filter's top
    of the ranking is polluted even if corpus-wide ordering looks fine.

    Tie-aware step AP over distinct thresholds (the
    ``sklearn.average_precision_score`` definition, tied rows grouped):

      AP = Σ_s (pos_s / P) · precision(>= s)

    Determinism: each precision(>= s) = tp/(tp+fp) is a ratio of exact
    integers, ROUNDED HALF-UP TO 6 DP before weighting (the repo-wide
    oracle convention), so every term is a 1e-6-grid value and the final
    6-dp rounding is stable under fold order. ``quantize`` is the
    100 TB knob (see ``auc_report``). Single-class input → NULL
    average_precision: an audit slice with no negatives (or positives)
    certifies nothing, so the guard fails loud rather than reporting a
    trivial 1.0.
    """
    curve = _per_score_curve(df, score_col, label_col, quantize=quantize)
    prec6 = F.round(
        F.col("tp").cast("double")
        / (F.col("tp") + F.col("fp")).cast("double"),
        6,
    )
    agg = curve.agg(
        F.sum(F.col("pos").cast("double") * prec6).alias("num"),
        F.max("p").alias("n_pos"),
        F.max("n").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
    )
    ap = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.col("num") / F.col("n_pos").cast("double"),
    )
    baseline = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.col("n_pos").cast("double")
        / (F.col("n_pos") + F.col("n_neg")).cast("double"),
    )
    return agg.select(
        F.round(ap, 6).alias("average_precision"),
        F.round(baseline, 6).alias("baseline"),
        F.round(ap / baseline, 6).alias("lift"),
        F.coalesce(F.col("n_pos"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.col("n_neg"), F.lit(0)).cast("long").alias("n_neg"),
        F.col("n_scores").cast("long").alias("n_scores"),
    )


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    quantize: int | None = None,
) -> DataFrame:
    """Full operating-curve table: one row per DISTINCT score value s
    with the confusion counts and derived metrics of the cut
    ``score >= s``:

      threshold, tp, fp, fn, tn, precision, recall, fpr, f1, accuracy

    ``confusion_report`` audits the ONE shipped threshold; this table is
    how that threshold gets CHOSEN — it is simultaneously the exact ROC
    curve ((fpr, recall) points) and the exact PR curve ((recall,
    precision) points) of the filter. Output size is |distinct scores|
    (bound it with ``quantize`` for continuous scores — the 100 TB knob);
    the fact table itself is touched by exactly one hash aggregate.
    Zero-denominator metrics are NULL, not fake 0. Rows come back in
    descending threshold order (the conventional curve direction); the
    sort is over the bounded relation only."""
    curve = _per_score_curve(df, score_col, label_col, quantize=quantize)
    tp, fp = F.col("tp"), F.col("fp")
    fn, tn = F.col("p") - tp, F.col("n") - fp
    r = confusion_ratios(tp, fp, fn, tn)
    fpr = F.when(fp + tn > 0, fp.cast("double") / (fp + tn))
    return curve.select(
        F.col("__s").alias("threshold"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        F.round(r["precision"], 6).alias("precision"),
        F.round(r["recall"], 6).alias("recall"),
        F.round(fpr, 6).alias("fpr"),
        F.round(r["f1"], 6).alias("f1"),
        F.round(r["accuracy"], 6).alias("accuracy"),
    ).orderBy(F.desc("threshold"))


def best_threshold_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    quantize: int | None = None,
) -> DataFrame:
    """The F1-optimal operating point: the ``threshold_sweep`` row with
    the highest f1, ties broken toward the HIGHER threshold (the
    stricter cut — at equal f1 prefer keeping less junk). Returns ONE
    row (threshold, tp, fp, fn, tn, precision, recall, fpr, f1,
    accuracy), or zero rows when no threshold has a defined f1 (e.g. a
    no-positives audit slice). The argmax sort runs over the
    |distinct scores|-bounded sweep relation, never the fact table."""
    sweep = threshold_sweep(df, score_col, label_col, quantize=quantize)
    return (
        sweep.where(F.col("f1").isNotNull())
        .orderBy(F.desc("f1"), F.desc("threshold"))
        .limit(1)
    )
