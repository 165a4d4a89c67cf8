"""``verdicts`` and ``summary`` read one held counts table.

The reference below is the lazy ``groupBy`` / ``explode`` pair the counts
replaced, kept here verbatim.  Both answers must equal it in rows, order
and schema (nullability included) on dirty, clean, empty and NULL-partition
inputs, for 0, 1 and 2 partition columns, whatever the shuffle partitions,
AQE setting or input order.  The reference verdicts have no order of their
own; the counts sort by the partition columns, NULLs first.
"""

import datetime
from typing import Optional

import pytest
from pyspark.sql import functions as F

from vldt_spark.engine import ValidationEngine, ValidationResult
from vldt_spark.fields import Field
from vldt_spark.frames import local_frame
from vldt_spark.model import Model


class Order(Model):
    rid: int = Field(unique=True)
    region: Optional[str]
    day: Optional[datetime.date]
    qty: int = Field(ge=0, le=10)
    cat: int = Field(ref=("cats", "cat_id"))


def reference_verdicts(ann, pc):
    return (
        ann.groupBy(*pc)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col("is_valid")).cast("long")).alias("n_invalid"),
            F.sum(F.size("violations").cast("long")).alias("n_violations"),
        )
        .withColumn("passed", F.col("n_invalid") == 0)
    )


def reference_summary(ann):
    return (
        ann.select(F.explode("violations").alias("v"))
        .groupBy(F.col("v.path").alias("path"), F.col("v.msg").alias("msg"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path", "msg")
    )


DAY = datetime.date(2024, 1, 1)


def _rows(kind):
    if kind == "empty":
        return []
    rows = []
    for i in range(90):
        region = [None, "eu", "us", "apac"][i % 4]
        day = None if i % 5 == 0 else DAY + datetime.timedelta(days=i % 3)
        qty = i % 10 if kind == "clean" else [3, -1, 12, 5, 7][i % 5]
        cat = i % 3 if kind == "clean" else i % 4  # cat 3 is not in the dim
        rows.append((i, region, day, qty, cat))
    if kind == "dirty":
        rows += [(7, "eu", DAY, 3, 0), (8, None, None, -5, 9)]  # duplicate rids
    if kind == "null_partition":
        rows = [(r[0], None, None, *r[3:]) for r in rows]
    return rows


@pytest.mark.parametrize("aqe", [True, False])
@pytest.mark.parametrize("parts", [1, 7])
def test_counts_equal_the_lazy_aggregates(spark, parts, aqe):
    conf = {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.adaptive.enabled": str(aqe).lower(),
    }
    before = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        dims = {"cats": local_frame(spark, [(0,), (1,), (2,)], "cat_id long")}
        for kind in ["dirty", "clean", "empty", "null_partition"]:
            rows = sorted(_rows(kind), key=lambda r: (r[0] * 7919) % 97)  # shuffled
            df = local_frame(
                spark, rows, "rid long, region string, day date, qty long, cat long"
            ).repartition(parts)
            res = ValidationEngine(Order).run(df, id_cols=["rid"], dims=dims)
            for pc in [[], ["region"], ["region", "day"]]:
                got = res.verdicts(pc)
                want = reference_verdicts(res.annotated, pc)
                assert got.schema == want.schema, (kind, pc)
                assert got.collect() == (want.orderBy(*pc) if pc else want).collect(), (kind, pc)
            # from the held counts, and from its own scan with none held
            fresh = ValidationResult(res.annotated, res.id_cols)
            want = reference_summary(res.annotated)
            for got in [res.summary(), fresh.summary()]:
                assert got.schema == want.schema, kind
                assert got.collect() == want.collect(), kind
            if kind == "empty":
                assert [tuple(r) for r in res.verdicts([]).collect()] == [(0, None, None, None)]
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_verdicts_by_an_array_column(spark):
    # Arrow cannot sort list keys: the rows still equal the reference's
    class Tagged(Model):
        rid: int
        tags: Optional[list[str]]
        qty: int = Field(ge=0, le=10)

    df = local_frame(
        spark,
        [(i, ["a", "b"][: i % 3] if i % 4 else None, i % 12) for i in range(20)],
        "rid long, tags array<string>, qty long",
    )
    res = ValidationEngine(Tagged).run(df)
    got = res.verdicts(["tags"])
    want = reference_verdicts(res.annotated, ["tags"])
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_summary_ties_keep_sparks_order_with_nulls_first(spark):
    # equal counts on NULL paths, NULL msgs and plain ones: the order is
    # desc(n), then path and msg ascending with NULLs first
    class Tagged(Model):
        rid: int

    res = ValidationEngine(Tagged).run(spark.range(6).withColumnRenamed("id", "rid"))
    entries = [("b", "x"), (None, "x"), ("a", None), ("a", "y"), (None, None), ("a", "x")]
    tied = F.array(*[
        F.struct(F.lit(p).cast("string").alias("path"), F.lit(m).cast("string").alias("msg"))
        for p, m in entries
    ])
    ann = res.annotated.withColumn(
        "violations", F.when(F.col("rid") < 2, tied).otherwise(F.col("violations"))
    ).withColumn("is_valid", F.size("violations") == 0)
    got = [tuple(r) for r in ValidationResult(ann, res.id_cols).summary().collect()]
    assert got == [tuple(r) for r in reference_summary(ann).collect()]
    assert got == [
        (None, None, 2), (None, "x", 2), ("a", None, 2), ("a", "x", 2), ("a", "y", 2), ("b", "x", 2)
    ]
