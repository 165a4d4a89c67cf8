"""Lambda-free verdict guards equal the ``exists`` lambdas they replace.

``coercion.elements_outside`` (``array_min``/``array_max``) and
``coercion.has_null_element`` (``array_intersect`` with ``array(NULL)``)
gate the fused pass's element checks.  The ``exists`` expressions they
replaced are kept here as the reference: on int, long, double (NaN),
string and date arrays, with NULL, empty and all-NULL arrays, NULL
elements and the integer extremes, both give the same verdicts, and an
engine built on either gives the same violations — path, message and
order.  The Suite's ``element_range`` shares the helper, so its counts are
pinned against the old predicate too.
"""

import datetime
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vldt_spark import coercion
from vldt_spark.checks.suite import Suite, expect
from vldt_spark.coercion import elements_outside, has_null_element
from vldt_spark.engine import ValidationEngine
from vldt_spark.fields import Field
from vldt_spark.model import Model

INT_MIN, INT_MAX = -(2**31), 2**31 - 1
LONG_MIN, LONG_MAX = -(2**63), 2**63 - 1

#: element type → (Spark type, values an element or a bound takes)
DOMAINS = {
    "int": (T.IntegerType(), [INT_MIN, -1, 0, 1, 7, INT_MAX]),
    "long": (T.LongType(), [LONG_MIN, INT_MIN, 0, 5, INT_MAX + 1, LONG_MAX]),
    "double": (T.DoubleType(), [-math.inf, -1.5, -0.0, 0.0, 2.5, math.inf, math.nan]),
    "string": (T.StringType(), ["", "A", "a", "ab", "b", "10", "9"]),
    # F.lit of a date before year 1000 fails in PySpark's date converter
    "date": (
        T.DateType(),
        [datetime.date(1000, 1, 1), datetime.date(1970, 1, 1), datetime.date(2024, 2, 29),
         datetime.date(9999, 12, 31)],
    ),
}


def old_outside(arr, lo=None, hi=None):
    """The replaced guard: ``exists`` over a lambda, NULL → false."""

    def bad(x):
        b = F.lit(False)
        if lo is not None:
            b = b | (x < F.lit(lo))
        if hi is not None:
            b = b | (x > F.lit(hi))
        return b

    return F.coalesce(F.exists(arr, lambda x: x.isNotNull() & bad(x)), F.lit(False))


def old_null_element(arr):
    return F.exists(arr, lambda x: x.isNull())


def _case(kind):
    values = DOMAINS[kind][1]
    element = st.one_of(st.none(), st.sampled_from(values))
    array = st.one_of(
        st.none(),
        st.just([]),
        st.lists(st.none(), min_size=1, max_size=3),
        st.lists(element, max_size=8),
    )
    bound = st.one_of(st.none(), st.sampled_from(values))
    return st.tuples(st.just(kind), st.lists(array, min_size=1, max_size=12), bound, bound)


cases = st.sampled_from(sorted(DOMAINS)).flatmap(_case)


def _frame(spark, kind, arrays):
    dt = DOMAINS[kind][0]
    schema = T.StructType([
        T.StructField("rid", T.IntegerType(), False),
        T.StructField("arr", T.ArrayType(dt, True), True),
    ])
    return spark.createDataFrame(list(enumerate(arrays)), schema), dt


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=cases)
def test_guards_equal_exists(spark, case):
    kind, arrays, lo, hi = case
    df, dt = _frame(spark, kind, arrays)
    arr = F.col("arr")
    pairs = {
        "lo": (elements_outside(arr, dt, lo=lo), old_outside(arr, lo=lo)),
        "hi": (elements_outside(arr, dt, hi=hi), old_outside(arr, hi=hi)),
        "both": (elements_outside(arr, dt, lo, hi), old_outside(arr, lo, hi)),
        "null": (
            arr.isNotNull() & has_null_element(arr, dt),
            arr.isNotNull() & old_null_element(arr),
        ),
    }
    cols = [c.alias(f"{name}_{side}") for name, sides in pairs.items()
            for side, c in zip(("new", "old"), sides)]
    for r in df.select("rid", *cols).collect():
        for name in pairs:
            assert r[f"{name}_new"] == r[f"{name}_old"], (name, arrays[r["rid"]], lo, hi)
            assert r[f"{name}_new"] is not None


def _model(kind, lo, hi):
    """A ``list[<kind>]`` model with element bounds ``lo``/``hi``."""
    py = {"int": int, "long": int, "double": float, "string": str, "date": datetime.date}[kind]

    class M(Model):
        rid: int
        arr: list[py] = Field(element_ge=lo, element_le=hi)

    return M


def _violations(model, df):
    ann = ValidationEngine(model).annotate(df)
    return [(r["rid"], [tuple(v) for v in r["violations"]]) for r in ann.orderBy("rid").collect()]


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=cases)
def test_engine_violations_equal_exists_reference(spark, monkeypatch, case):
    kind, arrays, lo, hi = case
    df, _ = _frame(spark, kind, arrays)
    model = _model(kind, lo, hi)
    got = _violations(model, df)
    with monkeypatch.context() as m:
        m.setattr(coercion, "elements_outside", lambda a, dt, lo=None, hi=None: old_outside(a, lo, hi))
        m.setattr(coercion, "has_null_element", lambda a, dt: old_null_element(a))
        want = _violations(model, df)
    assert got == want


def test_numeric_bound_on_string_array_keeps_the_lambda(spark):
    """A numeric bound compares each string element as a number, an order
    ``array_min`` does not follow: min("10", "2") is "10", yet 2 < 5."""
    df = spark.createDataFrame([(["10", "2"],), (["10", "20"],)], "arr array<string>")
    dt = T.StringType()
    got = df.select(elements_outside(F.col("arr"), dt, lo=5).alias("b")).collect()
    assert [r["b"] for r in got] == [True, False]


def test_suite_element_range_counts_equal_exists(spark):
    """The Suite's ``element_range`` shares ``elements_outside``; its count
    equals the old ``exists`` predicate's."""
    rows = [([1, 2, None],), ([0, 9],), (None,), ([],), ([None],), ([-3, 4],), ([5, 10],)]
    df = spark.createDataFrame(rows, "arr array<int>")
    (metric,) = [r["metric"] for r in Suite([expect.element_range("arr", lo=0, hi=9)]).run(df).collect()]
    want = df.where(F.col("arr").isNotNull() & old_outside(F.col("arr"), 0, 9)).count()
    assert metric == want == 2
