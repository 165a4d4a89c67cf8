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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vldt_spark.cells import Cells, windowed
from vldt_spark.engine import ValidationEngine
from vldt_spark.model import Model


def validated_stream(stream_df: DataFrame, model: type[Model]) -> DataFrame:
    """Apply the fused validation projection to a streaming DataFrame —
    adds coerced columns + violations + is_valid, stateless."""
    return ValidationEngine(model).annotate(stream_df, keep_extra=True)


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
    cells = Cells(
        F.lit(True),
        {
            "n_rows": F.lit(1),
            "n_invalid": (~F.col("is_valid")).cast("long"),
            "n_violations": F.size("violations").cast("long"),
        },
    )
    return windowed(
        annotated, ts_col, cells, window=window, watermark=watermark, by=extra_keys
    ).withColumn("passed", F.col("n_invalid") == 0)


def windowed_violation_counts(
    spark: SparkSession,
    source_dir: str,
    model: type[Model],
    *,
    ts_col: str,
    schema=None,
    window: str = "5 minutes",
    query_name: str = "vldt_stream_verdicts",
) -> DataFrame:
    """Drive a parquet-directory stream to completion synchronously (memory
    sink, complete mode) and return the final verdict table — the local
    smoke-test path; production swaps source/sink, the plan is identical."""
    schema = schema or spark.read.parquet(source_dir).schema
    stream = spark.readStream.schema(schema).parquet(source_dir)
    ann = validated_stream(stream, model)
    agg = stream_verdicts(ann, ts_col=ts_col, window=window)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.table(query_name)
    return out.select(
        F.col("window.start").cast("long").alias("window_start"),
        "n_rows",
        "n_invalid",
        "n_violations",
        "passed",
    )
