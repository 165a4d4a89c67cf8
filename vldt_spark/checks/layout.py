"""Table-layout health: partition and file audits.

At 10^12 rows the difference between a healthy and a pathological table
is mostly LAYOUT: a hot partition that serializes every reader, a dust
cloud of tiny files that turns one scan into a million opens, a
clustering key whose per-file ranges all overlap so predicate pushdown
prunes nothing.  These audits answer the three questions an Iceberg
table owner asks before pointing a 1000-executor job at a table:

- `partition_health_report` — per LOGICAL partition (the Iceberg
  partition columns: source, day, ...): row count, share, skew factor
  vs the mean, and small/hot flags.  One partial-aggregated exchange of
  |partitions| rows; the fact table never shuffles beyond its own
  partial counts.
- `partition_health_summary` — one row: partition count, max/mean skew
  factor, hot-partition count (the salting / AQE-skew-join decision
  input), small-partition count and their row share (the compaction
  decision input).
- `file_layout_report` — per PHYSICAL file (via ``input_file_name()``):
  row count plus optional clustering-key min/max, the direct measure of
  whether a sort/cluster survived into the layout (overlapping per-file
  key ranges = pruning-hostile).  Exchange is |files| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_health_report(
    df: DataFrame,
    part_cols: str | list[str],
    *,
    hot_factor: float = 2.0,
    small_frac: float = 0.1,
) -> DataFrame:
    """Per-partition row counts with health flags.

    ``skew_factor`` is the partition's row count over the mean across
    partitions; ``is_hot`` flags skew_factor > ``hot_factor`` (the
    partitions that need salting or AQE skew handling), ``is_small``
    flags partitions under ``small_frac`` of the mean (the compaction
    candidates).  Fractions are half-up 6dp.  Plan: one hash aggregate
    (map-side combined) + a 1-row totals broadcast join — the |rows|
    relation is scanned once and never reshuffled.
    """
    cols = [part_cols] if isinstance(part_cols, str) else list(part_cols)
    counts = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.avg("n_rows").alias("__mean"),
    )
    out = counts.crossJoin(F.broadcast(totals))
    skew = F.col("n_rows") / F.col("__mean")
    return out.select(
        *cols,
        "n_rows",
        F.round(F.col("n_rows") / F.col("__total"), 6).alias("row_share"),
        F.round(skew, 6).alias("skew_factor"),
        (skew > F.lit(float(hot_factor))).alias("is_hot"),
        (skew < F.lit(float(small_frac))).alias("is_small"),
    )


def partition_health_summary(
    df: DataFrame,
    part_cols: str | list[str],
    *,
    hot_factor: float = 2.0,
    small_frac: float = 0.1,
) -> DataFrame:
    """One-row layout verdict over `partition_health_report`: partition
    count, worst skew factor, hot/small partition counts, and the row
    share concentrated in hot partitions (the number that predicts
    straggler time at 100 TB)."""
    rep = partition_health_report(
        df, part_cols, hot_factor=hot_factor, small_frac=small_frac
    )
    return rep.agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("n_rows").alias("n_rows"),
        F.round(F.max("skew_factor"), 6).alias("max_skew_factor"),
        F.sum(F.col("is_hot").cast("long")).alias("n_hot"),
        F.sum(F.col("is_small").cast("long")).alias("n_small"),
        F.round(
            F.sum(F.when(F.col("is_hot"), F.col("row_share")).otherwise(0.0)),
            6,
        ).alias("hot_row_share"),
    )


def file_layout_report(
    df: DataFrame, *, key: str | None = None
) -> DataFrame:
    """Per physical file: basename, row count, and (when ``key`` is
    given) the file's key min/max — overlapping ranges across files
    mean the clustering the table claims does not exist in the layout
    and scan pruning will not happen.  Exchange carries |files|
    partial rows.

    Files are grouped by their full path: partitioned writes reuse
    ``part-0000…`` basenames across directories, so the basename is
    only the displayed ``file`` column, never the grouping key."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if key is not None:
        aggs += [
            F.min(key).alias("key_min"),
            F.max(key).alias("key_max"),
        ]
    per_file = df.groupBy(F.input_file_name().alias("__path")).agg(*aggs)
    base = F.element_at(F.split("__path", "/"), -1).alias("file")
    return per_file.select(base, *[a for a in per_file.columns if a != "__path"])
