"""Functional-dependency / conflicting-duplicate checks.

A functional dependency A → B ("every determinant value maps to exactly
one dependent value") is the classic relational consistency contract:
postal_code → city, order_id → order_date, and — the LLM-corpus case —
doc_id → content (a duplicated id carrying DIFFERENT text is a silent
poisoning/ingestion bug that plain uniqueness counting cannot see,
because it flags ids that are legitimately re-emitted with identical
payloads too).

Reference parity: the reference validates per-object invariants
(/root/reference/vldt/validators.py — field/model validators); an FD is
the table-level invariant a distributed engine adds on top, the same
relationship as uniqueness (B5) to per-row `unique` flags.

Scale design: ONE hash aggregate over the determinant key —
groupBy(determinant).agg(countDistinct(dependent), count, min, max).
Partial (map-side) aggregation bounds the exchange at
distinct-determinants-per-partition rows; no join, no window, no row
explosion. Violating groups only are returned (the overwhelming
majority of a healthy table aggregates away map-side). At 10^12 rows
this costs one aggregate, like the uniqueness pass it composes
with. Skewed determinants are fine: countDistinct's partial dedup keeps
hot keys bounded by |distinct dependents|, not row count.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def functional_dependency(
    df: DataFrame,
    determinant: Iterable[str] | str,
    dependent: str,
) -> DataFrame:
    """Groups violating determinant → dependent: one row per determinant
    value observed with MORE than one distinct non-null dependent value,
    carrying (determinant cols…, n_values, n_rows, min_value, max_value)
    — min/max give the reviewer the conflicting pair without a second
    scan.  NULL dependents are ignored (a missing value is a null-rate
    problem, not a conflict); determinant groups that are entirely NULL
    never appear.
    """
    det = [determinant] if isinstance(determinant, str) else list(determinant)
    d = F.col(dependent)
    return (
        df.groupBy(*det)
        .agg(
            F.countDistinct(d).alias("n_values"),
            F.count(d).alias("n_rows"),
            F.min(d).alias("min_value"),
            F.max(d).alias("max_value"),
        )
        .where(F.col("n_values") > 1)
    )


def fd_report(
    df: DataFrame,
    determinant: Iterable[str] | str,
    dependent: str,
) -> DataFrame:
    """One-row summary of an FD check: total determinant groups, groups
    violating, rows inside violating groups, and the violation share —
    the CI-gate scalar view of `functional_dependency` (same single
    aggregate, reduced further instead of listed)."""
    det = [determinant] if isinstance(determinant, str) else list(determinant)
    d = F.col(dependent)
    groups = df.groupBy(*det).agg(
        F.countDistinct(d).alias("__nv"), F.count(d).alias("__nr")
    )
    bad = F.col("__nv") > 1
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(bad.cast("long")).alias("n_violating_groups"),
        F.sum(F.when(bad, F.col("__nr")).otherwise(F.lit(0))).alias(
            "n_conflicting_rows"
        ),
        F.round(
            F.sum(bad.cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)).cast("double"),
            6,
        ).alias("violation_share"),
    )
