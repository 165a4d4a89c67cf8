"""Structured Streaming validation.

The reference has no streaming surface (SURVEY.md §2: streaming — none);
this extends the same compiled model to continuous ingestion: the fused
validation projection from ``ValidationEngine.annotate`` is stateless, so
it applies unchanged to a streaming DataFrame — one code path for batch and
stream. Verdict aggregation becomes a watermarked windowed count (late rows
beyond the watermark are dropped, the documented streaming deviation from
batch exactness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vldt_spark.cells import Cells, windowed
from vldt_spark.engine import ValidationEngine
from vldt_spark.model import Model


def validated_stream(stream_df: DataFrame, model: type[Model]) -> DataFrame:
    """Apply the fused validation projection to a streaming DataFrame —
    adds coerced columns + violations + is_valid, stateless."""
    return ValidationEngine(model).annotate(stream_df, keep_extra=True)


def verdict_cells() -> Cells:
    """The verdict counts of annotated rows: n_rows, n_invalid and
    n_violations, all long.  A function, since a Column needs a session."""
    return Cells(
        F.lit(True),
        {
            "n_rows": F.lit(1),
            "n_invalid": (~F.col("is_valid")).cast("long"),
            "n_violations": F.size("violations").cast("long"),
        },
    )


def stream_verdicts(
    annotated: DataFrame,
    *,
    ts_col: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Windowed per-partition verdicts (streaming B11): (window,
    extra_keys..., n_rows, n_invalid, n_violations, passed)."""
    return windowed(
        annotated, ts_col, verdict_cells(), window=window, watermark=watermark, by=extra_keys
    ).withColumn("passed", F.col("n_invalid") == 0)
