"""B5 — uniqueness at scale: one map-side-combined hash aggregate.

Generalizes the reference's per-object identity (one ``Model`` instance ==
one record; vldt has no cross-record checks) to a table-wide primary-key
constraint over 10^12 rows.

``duplicate_keys`` is ``groupBy(keys).count()`` kept where the count is
above 1.  Catalyst plans it as a partial ``HashAggregate`` in each map
task, one hash exchange on the key columns and a final ``HashAggregate``.
The partial step combines every key map-side, so a key that holds 70% of
the rows reaches its reducer as at most one row per map partition: the
exchange carries distinct keys per partition, never the fact rows.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vldt_spark.errors import session_columns


def _key_list(key: str | list[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def _all_not_null(keys: list[str]) -> Column:
    return reduce(and_, [F.col(k).isNotNull() for k in keys])


def duplicate_keys(df: DataFrame, key: str | list[str]) -> DataFrame:
    """Keys occurring more than once → (key cols..., n_dups).  Composite
    keys pass a list.

    NULL semantics are embedded uniqueness, as in SQL ``UNIQUE``: a row
    with any NULL key part is never a duplicate, so two ``(1, NULL)`` rows
    do not collide.  Its NULLs are reported as ``not_null`` violations,
    not uniqueness ones."""
    keys = _key_list(key)
    cols, nonnull, n_dups, dup = session_columns(
        df.sparkSession, ("duplicate_keys", *keys), lambda: _duplicate_key_columns(keys)
    )
    return df.select(*cols).where(nonnull).groupBy(*cols).agg(n_dups).where(dup)


def _duplicate_key_columns(keys: list[str]) -> tuple:
    """``duplicate_keys``' Columns for ``keys``: data-independent, so built
    once per SparkSession (``errors.session_columns``)."""
    return (
        [F.col(k) for k in keys],
        _all_not_null(keys),
        F.count(F.lit(1)).alias("n_dups"),
        F.col("n_dups") > 1,
    )


def duplicate_rows(df: DataFrame, key: str | list[str]) -> DataFrame:
    """All rows participating in a duplicate key — dup-key set broadcast back
    so the fact table is never shuffled."""
    dups = duplicate_keys(df, key)
    return df.join(F.broadcast(dups.select(*_key_list(key))), key, "left_semi")


def uniqueness_report(df: DataFrame, key: str | list[str]) -> DataFrame:
    """One-row summary: n_rows, n_nonnull (rows with no NULL key part),
    n_dup_keys and n_dup_rows, with ``duplicate_keys``' NULL semantics.

    One count per key, the NULL group included, then one scalar aggregate
    over those counts: a single scan of ``df``.  An empty table gives
    ``0, 0, 0, 0``."""
    keys = _key_list(key)
    per = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    nonnull = _all_not_null(keys)
    dup = nonnull & (F.col("n") > 1)
    rep = per.agg(
        F.sum("n").alias("n_rows"),
        F.sum(F.when(nonnull, F.col("n"))).alias("n_nonnull"),
        F.count_if(dup).alias("n_dup_keys"),
        F.sum(F.when(dup, F.col("n"))).alias("n_dup_rows"),
    )
    return rep.select(*[F.coalesce(c, F.lit(0)).alias(c) for c in rep.columns])
