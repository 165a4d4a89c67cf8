"""B1 — schema conformance: does a DataFrame's read schema satisfy a model?

Driver-side structural check (no data pass): per declared field, is the
column present (directly or via alias), does its type equal / losslessly
widen to / require runtime coercion to the declared type, and which
DataFrame columns are extra (ignored by the reference's semantics,
/root/reference/src/data_model.cpp:167-212).

Returns a small report DataFrame so it lands in the same metrics tables as
the data checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import types as T

from vldt_spark.coercion import _lossless as _scalar_lossless
from vldt_spark.frames import local_frame
from vldt_spark.model import Model


def _lossless(a: T.DataType, b: T.DataType) -> bool:
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return _lossless(a.elementType, b.elementType)
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return _lossless(a.keyType, b.keyType) and _lossless(a.valueType, b.valueType)
    return _scalar_lossless(a, b)


def schema_conformance(spark: SparkSession, df: DataFrame, model: type[Model]) -> DataFrame:
    compiled = model.__vldt_compile__()
    actual = {f.name: f.dataType for f in df.schema.fields}
    rows = []
    claimed: set[str] = set()
    for spec in compiled.fields:
        src = None
        for cand in spec.field.aliases + [spec.name]:
            if cand in actual:
                src = cand
                break
        if src is None:
            status = (
                "defaulted" if spec.field.has_default
                else "nullable_missing" if spec.node.is_optional
                else "missing"
            )
            rows.append((spec.name, spec.dtype.simpleString(), None, status))
            continue
        claimed.add(src)
        a = actual[src]
        if a == spec.dtype:
            status = "exact"
        elif _lossless(a, spec.dtype):
            status = "lossless"
        else:
            status = "coerce"
        rows.append((spec.name, spec.dtype.simpleString(), a.simpleString(), status))
    for name, dt in actual.items():
        if name not in claimed:
            rows.append((name, None, dt.simpleString(), "extra_ignored"))
    return local_frame(
        spark, rows, "field string, expected string, actual string, status string"
    )


def conforms(spark: SparkSession, df: DataFrame, model: type[Model]) -> bool:
    """True iff no required field is missing (coercible mismatches are fine —
    they become per-row checks in the fused pass)."""
    rep = schema_conformance(spark, df, model)
    return rep.filter(rep.status == "missing").count() == 0
