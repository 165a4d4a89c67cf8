"""Constraint suggestion (checks/suggest.py): profile → proposed
expectations → runnable Suite that passes on the profiled data."""

import pytest

from vldt_spark.checks.suggest import suggest_constraints, suite_from_suggestions


@pytest.fixture(scope="module")
def table(spark):
    rows = [
        (1, 2.5, "A", [1, 2], "x" * 3),
        (2, 7.5, "B", [1], "y" * 5),
        (3, 4.0, "A", [1, 2, 3], None),
        (4, 1.0, "B", [2], "z" * 4),
    ]
    return spark.createDataFrame(
        rows, "id long, price double, flag string, tags array<int>, note string"
    )


@pytest.fixture(scope="module")
def sugg(table):
    return {
        (r["column"], r["kind"]): r
        for r in suggest_constraints(table).collect()
    }


def test_numeric_range_and_not_null(sugg):
    r = sugg[("price", "range")]
    assert (r["lo"], r["hi"], r["support"]) == (1.0, 7.5, 1.0)
    assert ("price", "not_null") in sugg


def test_small_cardinality_string_gets_isin_and_lengths(sugg):
    assert sugg[("flag", "isin")]["values"] == ["A", "B"]
    r = sugg[("flag", "length_between")]
    assert (r["lo"], r["hi"]) == (1.0, 1.0)


def test_nullable_column_gets_rate_guard_with_headroom(sugg):
    r = sugg[("note", "null_rate_below")]
    assert r["hi"] == 0.3  # 0.25 observed * 1.2 headroom
    assert r["support"] == 0.75
    assert ("note", "not_null") not in sugg


def test_array_column_size_bounds(sugg):
    r = sugg[("tags", "size_between")]
    assert (r["lo"], r["hi"]) == (1.0, 3.0)


def test_int_array_gets_element_range(sugg):
    # the token-table invariant: every id inside the observed vocab band
    r = sugg[("tags", "element_range")]
    assert (r["lo"], r["hi"], r["support"]) == (1.0, 3.0, 1.0)


def test_string_array_has_no_element_range(spark):
    df = spark.createDataFrame([(["a", "b"],)], "xs array<string>")
    got = {r["kind"] for r in suggest_constraints(df).collect()}
    assert "size_between" in got and "element_range" not in got


def test_high_cardinality_string_skips_isin(spark):
    df = spark.createDataFrame(
        [(f"v{i:04d}",) for i in range(200)], "s string"
    )
    got = {r["kind"] for r in suggest_constraints(df).collect()}
    assert "isin" not in got and "length_between" in got


def test_suggested_suite_passes_on_profiled_data(table):
    s = suite_from_suggestions(table, suggest_constraints(table))
    rows = s.run(table).collect()
    assert rows and all(r["passed"] for r in rows)


def test_unknown_column_raises(table):
    with pytest.raises(ValueError):
        suggest_constraints(table, ["nope"])


def test_tiny_null_rate_guard_passes_on_its_own_profile(spark):
    """One NULL in 3M rows: rate · headroom = 4e-7 rounds to 0 at 6dp,
    so the threshold is rounded up to the observed rate instead."""
    from pyspark.sql import functions as F

    df = spark.range(3_000_000).select(
        F.when(F.col("id") == 0, None).otherwise(F.col("id")).alias("x")
    )
    sugg = suggest_constraints(df)
    (row,) = sugg.where("kind = 'null_rate_below'").collect()
    assert row["hi"] >= 1 / 3_000_000
    assert suite_from_suggestions(df, sugg).passed(df)
