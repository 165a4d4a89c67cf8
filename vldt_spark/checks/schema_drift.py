"""Schema-evolution drift: what changed between two table versions.

The validation engine's B1 check asks "does this table conform to the
declared model"; this answers the adjacent operational question — "what
changed between yesterday's snapshot and today's" — before those changes
surface as opaque not-null or type-coercion violations downstream.
Catches the classic Iceberg-evolution events: column added, column
dropped, type widened/narrowed, nullability flipped.

Cost model: the diff itself is METADATA-ONLY (StructType compare on the
driver — no job, no scan, free at any table size). The optional
``with_null_rates`` enrichment adds ONE single-pass aggregate per side
over the shared columns (the bounded column_stats plan), so even the
deep variant is two scans total.

Reference parity note: vldt re-validates objects against a static model
(/root/reference/vldt/models.py); version-to-version drift of the schema
itself has no analogue there — north-star operational territory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vldt_spark.frames import local_frame


def schema_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """One row per schema change between ``old`` and ``new``:
    (column, change, old_type, new_type) with change ∈
    {added, dropped, retyped, nullability}. Metadata-only — no job runs
    against either table. Name matching is case-insensitive (Spark's
    resolution rule); the reported name is the NEW side's spelling when
    both exist."""
    o = {f.name.lower(): f for f in old.schema.fields}
    n = {f.name.lower(): f for f in new.schema.fields}
    rows = []
    for key in sorted(set(o) | set(n)):
        fo, fn = o.get(key), n.get(key)
        if fo is None:
            rows.append((fn.name, "added", None, fn.dataType.simpleString()))
        elif fn is None:
            rows.append((fo.name, "dropped", fo.dataType.simpleString(), None))
        else:
            if fo.dataType != fn.dataType:
                rows.append(
                    (
                        fn.name,
                        "retyped",
                        fo.dataType.simpleString(),
                        fn.dataType.simpleString(),
                    )
                )
            if fo.nullable != fn.nullable:
                rows.append(
                    (
                        fn.name,
                        "nullability",
                        "nullable" if fo.nullable else "required",
                        "nullable" if fn.nullable else "required",
                    )
                )
    spark = new.sparkSession
    return local_frame(
        spark, rows, "column string, change string, old_type string, new_type string"
    )


def schema_drift_report(
    old: DataFrame, new: DataFrame, *, with_null_rates: bool = False
) -> DataFrame:
    """``schema_diff`` plus, when ``with_null_rates`` is set, a
    null-rate delta row ("null_rate_shift") for every SHARED column whose
    null rate moved — the early-warning signal that a producer started
    writing NULLs into a still-present column. Two bounded single-pass
    aggregates; output cardinality ≤ 2 × |columns|."""
    diff = schema_diff(old, new)
    if not with_null_rates:
        return diff
    from vldt_spark.checks.column_stats import column_stats

    shared = [
        f.name
        for f in new.schema.fields
        if f.name.lower() in {g.name.lower() for g in old.schema.fields}
    ]
    if not shared:
        return diff
    o_rates = column_stats(old, shared).select(
        "column", F.col("null_rate").alias("old_rate")
    )
    n_rates = column_stats(new, shared).select(
        "column", F.col("null_rate").alias("new_rate")
    )
    shift = (
        o_rates.join(n_rates, "column")
        .where(F.col("old_rate") != F.col("new_rate"))
        .select(
            "column",
            F.lit("null_rate_shift").alias("change"),
            F.format_number("old_rate", 6).alias("old_type"),
            F.format_number("new_rate", 6).alias("new_type"),
        )
    )
    return diff.unionByName(shift)
