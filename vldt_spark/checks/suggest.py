"""Constraint suggestion: profile a table and propose the declarative
Suite that pins its current shape.

The missing half of the profile → guard loop: `column_profile` tells a
human what the data looks like; `suggest_constraints` turns that
profile into CONCRETE candidate expectations (the approach popularized
by Deequ's ConstraintSuggestion on Spark), and `suite_from_suggestions`
materializes them as `Suite` expectations so the next run of the same
pipeline is guarded by the shape of the last known-good run.

Suggestion rules, per column (all from ONE aggregation pass):

- null rate 0            -> ``not_null``
- 0 < null rate          -> ``null_rate_below`` with configurable
                            headroom (threshold = rate · headroom,
                            capped at 1.0, rounded to 6dp but never
                            below the observed rate)
- numeric                -> ``range`` [min, max]
- string, exact distinct count <= ``isin_max_card``
                         -> ``isin`` (sorted value list)
- string                 -> ``length_between`` [min len, max len]
- array                  -> ``size_between`` [min size, max size]

Scale shape: ONE hash-aggregate scan computes every statistic for every
profiled column (conditional scalar partials — the same shape as
`column_stats`); the only caveat is the exact small-cardinality check,
which uses ``count_distinct`` capped by a pre-filter on
``approx_count_distinct`` so a high-cardinality string column never
materializes its distinct set.  The isin value LIST is collected only
for columns that passed the cardinality gate (≤ isin_max_card values
each — driver-trivial).  Output is typed columns (lo/hi doubles, value
arrays), never formatted strings, so an external oracle can replay the
arithmetic exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vldt_spark.frames import local_frame
from vldt_spark.rounding import round6


_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def suggest_constraints(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    isin_max_card: int = 10,
    null_rate_headroom: float = 1.2,
) -> DataFrame:
    """One row per suggested expectation: ``(column, kind, lo, hi,
    values, support)``.

    ``lo``/``hi`` carry the numeric/length/size bounds (NULL where the
    kind has none), ``values`` the sorted isin list (NULL otherwise),
    ``support`` the fraction of rows satisfying the suggestion on the
    profiled data itself — 1.0 for bounds derived from observed
    min/max, 1 − null_rate for ``not_null``-adjacent suggestions.
    Deterministic: row order is (column, kind); value lists are sorted.
    """
    cols = columns or df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if c not in schema:
            raise ValueError(f"unknown column: {c}")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        x = F.col(c)
        aggs.append(F.sum(x.isNull().cast("long")).alias(f"{c}__nulls"))
        dt = schema[c]
        if isinstance(dt, _NUMERIC):
            aggs.append(F.min(x).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(x).cast("double").alias(f"{c}__max"))
        elif isinstance(dt, T.StringType):
            aggs.append(F.min(F.length(x)).cast("double").alias(f"{c}__lmin"))
            aggs.append(F.max(F.length(x)).cast("double").alias(f"{c}__lmax"))
            aggs.append(F.approx_count_distinct(x).alias(f"{c}__approx"))
        elif isinstance(dt, T.ArrayType):
            aggs.append(F.min(F.size(x)).cast("double").alias(f"{c}__smin"))
            aggs.append(F.max(F.size(x)).cast("double").alias(f"{c}__smax"))
            if isinstance(dt.elementType, _NUMERIC):
                # the token-table core invariant: every element inside
                # [observed min, observed max] — e.g. ids within vocab
                aggs.append(
                    F.min(F.array_min(x)).cast("double").alias(f"{c}__emin")
                )
                aggs.append(
                    F.max(F.array_max(x)).cast("double").alias(f"{c}__emax")
                )
    row = df.agg(*aggs).first()
    n = row["__n"] or 0

    # exact distinct sets ONLY for strings whose sketch says they are
    # plausibly small (3x guard band over the ±2-ish% HLL error)
    isin_cands = [
        c for c in cols
        if isinstance(schema[c], T.StringType)
        and (row[f"{c}__approx"] or 0) <= 3 * isin_max_card
    ]
    isin_values: dict[str, list[str]] = {}
    if isin_cands and n:
        vals = df.agg(
            *[
                F.sort_array(F.collect_set(F.col(c))).alias(c)
                for c in isin_cands
            ]
        ).first()
        for c in isin_cands:
            vs = vals[c] or []
            if 0 < len(vs) <= isin_max_card:
                isin_values[c] = list(vs)

    out_rows = []
    for c in cols:
        nulls = row[f"{c}__nulls"] or 0
        null_rate = (nulls / n) if n else 0.0
        if n and nulls == 0:
            out_rows.append((c, "not_null", None, None, None, 1.0))
        elif n:
            # rounded, never below the observed rate: the guard must pass
            # on the table it was profiled from
            thr = max(
                round6(min(1.0, null_rate * null_rate_headroom)),
                math.ceil(null_rate * 1e6) / 1e6,
            )
            out_rows.append(
                (c, "null_rate_below", None, thr, None, round6(1.0 - null_rate))
            )
        dt = schema[c]
        if isinstance(dt, _NUMERIC) and row[f"{c}__min"] is not None:
            out_rows.append(
                (c, "range", row[f"{c}__min"], row[f"{c}__max"], None, 1.0)
            )
        elif isinstance(dt, T.StringType):
            if c in isin_values:
                out_rows.append((c, "isin", None, None, isin_values[c], 1.0))
            if row[f"{c}__lmin"] is not None:
                out_rows.append(
                    (c, "length_between", row[f"{c}__lmin"],
                     row[f"{c}__lmax"], None, 1.0)
                )
        elif isinstance(dt, T.ArrayType) and row[f"{c}__smin"] is not None:
            out_rows.append(
                (c, "size_between", row[f"{c}__smin"], row[f"{c}__smax"],
                 None, 1.0)
            )
            if (
                isinstance(dt.elementType, _NUMERIC)
                and row[f"{c}__emin"] is not None
            ):
                out_rows.append(
                    (c, "element_range", row[f"{c}__emin"],
                     row[f"{c}__emax"], None, 1.0)
                )
    out_rows.sort(key=lambda r: (r[0], r[1]))
    spark = df.sparkSession
    return local_frame(
        spark,
        out_rows,
        "column string, kind string, lo double, hi double,"
        " values array<string>, support double",
    )


def suite_from_suggestions(df: DataFrame, suggestions: DataFrame):
    """Materialize a suggestion report into a runnable `Suite`.

    The returned suite PASSES on the profiled table by construction
    (bounds are observed extrema; thresholds carry headroom) — the
    self-consistency property the tests pin.  Run it against the NEXT
    batch/snapshot to detect shape drift declaratively."""
    from vldt_spark.checks.suite import Suite, expect

    exps = []
    for r in suggestions.collect():
        kind = r["kind"]
        c = r["column"]
        if kind == "not_null":
            exps.append(expect.not_null(c))
        elif kind == "null_rate_below":
            # strict `<` guard needs headroom above the observed rate;
            # a column whose rate hit the 1.0 cap cannot be guarded
            if r["hi"] is not None and r["hi"] < 1.0:
                exps.append(expect.null_rate_below(c, float(r["hi"]) + 1e-9))
        elif kind == "range":
            exps.append(expect.range(c, lo=r["lo"], hi=r["hi"]))
        elif kind == "isin":
            exps.append(expect.isin(c, list(r["values"])))
        elif kind == "length_between":
            exps.append(
                expect.length_between(c, lo=int(r["lo"]), hi=int(r["hi"]))
            )
        elif kind == "size_between":
            exps.append(
                expect.size_between(c, lo=int(r["lo"]), hi=int(r["hi"]))
            )
        elif kind == "element_range":
            exps.append(expect.element_range(c, lo=r["lo"], hi=r["hi"]))
    if not exps:
        raise ValueError("no suggestions to materialize")
    return Suite(exps)
