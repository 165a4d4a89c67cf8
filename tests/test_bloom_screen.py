"""Bloom RI screen: one-sided guarantee, exactness at sized bitmaps,
bounded build output, and the zero-fact-shuffle plan shape."""

import pytest
from pyspark.sql import functions as F

from vldt_spark.checks.referential import (
    bloom_build,
    ri_bloom_screen,
    ri_violation_rows,
)


@pytest.fixture()
def tables(spark):
    dim = spark.range(0, 5000).select(F.col("id").alias("k"))
    fact = spark.range(0, 20000).select(
        F.col("id").alias("row_id"),
        # every 10th row points outside the dim -> 2000 true violations
        F.when(F.col("id") % 10 == 0, F.col("id") + 1_000_000)
        .otherwise(F.col("id") % 5000)
        .alias("fk"),
    )
    return fact, dim


def test_screen_equals_exact_at_sized_bitmap(spark, tables):
    fact, dim = tables
    got = ri_bloom_screen(fact, "fk", dim, "k", n_bits=1 << 20)
    want = ri_violation_rows(fact, "fk", dim, "k")
    assert sorted(r["row_id"] for r in got.collect()) == sorted(
        r["row_id"] for r in want.collect()
    )


def test_one_sided_under_undersized_bitmap(spark, tables):
    # deliberately tiny bitmap: heavy fill -> many violations missed, but
    # every REPORTED row must still be a true violation (no false accusations)
    fact, dim = tables
    got = {r["row_id"] for r in ri_bloom_screen(
        fact, "fk", dim, "k", n_bits=1 << 10, n_hashes=2
    ).collect()}
    exact = {r["row_id"] for r in ri_violation_rows(fact, "fk", dim, "k").collect()}
    assert got <= exact
    assert len(got) < len(exact)  # the tiny bitmap genuinely misses some


def test_null_fks_not_reported(spark):
    dim = spark.range(0, 10).select(F.col("id").alias("k"))
    fact = spark.createDataFrame(
        [(1, None), (2, 99), (3, 5)], "row_id int, fk int"
    )
    rows = ri_bloom_screen(fact, "fk", dim, "k", n_bits=1 << 16).collect()
    assert [r["row_id"] for r in rows] == [2]


def test_build_is_bounded(spark):
    dim = spark.range(0, 100_000).select(F.col("id").alias("k"))
    bm = bloom_build(dim, "k", n_bits=1 << 20)
    assert len(bm) == (1 << 20) // 8  # fixed size regardless of dim rows


def test_no_fact_shuffle_in_plan(spark, tables):
    # the screen is scan -> Arrow UDF over the FK hash -> filter: no
    # Exchange on the fact side (the whole point vs a sort-merge anti-join)
    fact, dim = tables
    plan = ri_bloom_screen(fact, "fk", dim, "k", n_bits=1 << 20)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
