"""Violation representation + reference-parity error messages.

Reference: ``ErrorCollector`` accumulates ``{path: msg}`` across all fields
(multiple errors per field promote to a JSON array) and raises
``TypeError(pretty_json)`` (/root/reference/src/error_handling.hpp:13-132).

Engine shape: violations are never raised — each row carries
``violations: array<struct<path:string, msg:string>>`` (SURVEY.md A16/B12);
``explode`` turns them into a violation-rows table; an empty array is the
"no exception" verdict (A1).

Message text mirrors the reference exactly:
  "Expected type int, got str"        (validation_primitives.cpp:63-178)
  "Expected a list, got str"          (validation_containers.cpp:66-70)
  "Expected tuple of length 2, got 3" (validation_containers.cpp:201)
  "Missing required field"            (data_model.cpp:209)
Paths use dotted lineage with numeric list indices / dict keys:
``products.0.id`` (tests/test_vldt.py:196-203).
"""

from __future__ import annotations

import weakref
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

VIOLATION_STRUCT = T.StructType(
    [
        T.StructField("path", T.StringType(), True),
        T.StructField("msg", T.StringType(), True),
    ]
)
VIOLATIONS_TYPE = T.ArrayType(VIOLATION_STRUCT, containsNull=True)


def violation(path: Column | str, msg: Column | str) -> Column:
    p = F.lit(path) if isinstance(path, str) else path
    m = F.lit(msg) if isinstance(msg, str) else msg
    return F.struct(p.alias("path"), m.alias("msg"))


def violation_if(cond: Column, path: Column | str, msg: Column | str) -> Column:
    """array with one violation when cond is true, else empty array."""
    return F.when(cond, F.array(violation(path, msg))).otherwise(empty_violations())


#: Catalyst expressions are immutable, so a Column built once can appear in
#: every expression tree that needs it.  Building one is not free: each
#: ``F.*`` call is a few py4j round trips, and re-building the empty array
#: per check (a DataType→JVM conversion) once dominated driver-side plan
#: construction for wide models (measured: ~40% of a 120-field annotate
#: build).  In classic py4j mode a Column holds a reference through the
#: gateway that created it, so the cache is keyed on the owning
#: SparkSession — via a WEAK reference: id()-keying could serve a stale
#: Column when CPython reuses a dead session's id, and would pin dead
#: gateways alive.  A garbage-collected session evicts its entry for free.
_SESSION_COLUMNS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def session_columns(spark, key, build: Callable[[], Any]) -> Any:
    """``build()`` — data-independent Columns — built once per
    SparkSession and ``key``, then reused by every plan of that session."""
    per_session = _SESSION_COLUMNS.get(spark)
    if per_session is None:
        per_session = _SESSION_COLUMNS[spark] = {}
    if key not in per_session:
        per_session[key] = build()
    return per_session[key]


def empty_violations() -> Column:
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return F.array().cast(VIOLATIONS_TYPE)
    return session_columns(s, "empty_violations", lambda: F.array().cast(VIOLATIONS_TYPE))


def merge_violations(*arrays: Column) -> Column:
    """Concatenate per-check violation arrays into one row-level array.

    Collect-all across fields (reference attempts every field before
    raising — data_model.cpp:197-211); Catalyst evaluates all branches in
    one projection, no short-circuit between constraints."""
    arrs = [a for a in arrays if a is not None]
    if not arrs:
        return empty_violations()
    if len(arrs) == 1:
        return arrs[0]
    return F.flatten(F.array(*arrs))


def expected_type_msg(expected: str, got: str) -> str:
    return f"Expected type {expected}, got {got}"


def missing_required_msg() -> str:
    return "Missing required field"
