"""Streaming filter-model operating-point monitor.

The continuous twin of `checks/classifier_eval.confusion_report`: a
deployed quality filter's threshold is judged continuously against
arriving labeled rows (the production shape: a small labeled audit
stream — human review, honeypot documents, delayed ground truth — rides
alongside the firehose), emitting per-event-time-window tp/fp/fn/tn and
the derived precision / recall / f1 / accuracy. A filter whose
precision sags mid-stream is letting junk into the corpus NOW — hours
before a batch re-evaluation would notice.

Scale shape: there is NO udf anywhere — prediction is a codegen
comparison, and the window aggregate is `confusion_cells` summed by
`cells.windowed`, so partial aggregation runs map-side inside each
micro-batch and the only state is |open windows| rows of four longs.
Late rows within the watermark update their window's counts; the derived
ratios (`confusion_ratios`, as in the batch report) are computed in the
same projection from exact integers, so emitted rows are
bit-deterministic for a given set of arrived rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vldt_spark.cells import windowed
from vldt_spark.checks.classifier_eval import confusion_cells, confusion_ratios


def stream_confusion_windows(
    stream_df: DataFrame,
    ts_col: str,
    score_col: str,
    label_col: str,
    *,
    threshold: float = 0.5,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked per-window confusion counts + operating-point ratios
    for ``score >= threshold`` against boolean/0-1 ``label_col``.

    Returns a streaming DataFrame with (window_start, n, tp, fp, fn, tn,
    precision, recall, f1, accuracy); rows with NULL score/label carry no
    verdict and count in NO cell. Use append output mode: a window's row
    is final once the watermark passes its end. Zero-denominator windows
    report NULL ratios, never a fake 0."""
    cells = confusion_cells(F.col(score_col), F.col(label_col), threshold)
    agg = windowed(stream_df, ts_col, cells, window=window, watermark=watermark)
    counts = [F.col(c) for c in ("tp", "fp", "fn", "tn")]
    ratios = confusion_ratios(*counts)
    return agg.select(
        F.col("window.start").alias("window_start"),
        (counts[0] + counts[1] + counts[2] + counts[3]).alias("n"),
        *counts,
        *[F.round(c, 6).alias(k) for k, c in ratios.items()],
    )
