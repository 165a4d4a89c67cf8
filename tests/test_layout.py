"""Table-layout health audits (checks/layout.py)."""

import os
import tempfile

from vldt_spark.checks.layout import (
    file_layout_report,
    partition_health_report,
    partition_health_summary,
)


def _skewed(spark):
    # partition a: 8 rows, b: 2, c: 2  (mean 4)
    rows = [("a", i) for i in range(8)] + [("b", i) for i in range(2)] + [
        ("c", i) for i in range(2)
    ]
    return spark.createDataFrame(rows, "p string, v int")


def test_partition_report_closed_form(spark):
    rep = {
        r["p"]: r
        for r in partition_health_report(
            _skewed(spark), "p", hot_factor=1.5, small_frac=0.6
        ).collect()
    }
    a = rep["a"]
    assert a["n_rows"] == 8 and a["row_share"] == round(8 / 12, 6)
    assert a["skew_factor"] == 2.0 and a["is_hot"] and not a["is_small"]
    b = rep["b"]
    assert b["skew_factor"] == 0.5 and b["is_small"] and not b["is_hot"]


def test_partition_summary(spark):
    s = partition_health_summary(
        _skewed(spark), "p", hot_factor=1.5, small_frac=0.6
    ).collect()[0]
    assert (s["n_partitions"], s["n_rows"]) == (3, 12)
    assert s["max_skew_factor"] == 2.0
    assert (s["n_hot"], s["n_small"]) == (1, 2)
    assert s["hot_row_share"] == round(8 / 12, 6)


def test_multi_column_partition_key(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 11), ("a", 2, 12), ("b", 1, 13)],
        "s string, d int, v int",
    )
    rep = partition_health_report(df, ["s", "d"]).collect()
    assert {(r["s"], r["d"], r["n_rows"]) for r in rep} == {
        ("a", 1, 2), ("a", 2, 1), ("b", 1, 1)
    }


def test_suite_partition_skew_guard_arms(spark):
    from vldt_spark.checks.suite import Suite, expect

    df = _skewed(spark)
    rows = Suite(
        [
            expect.partition_skew_below("p", 2.5),   # max skew 2.0 < 2.5
            expect.partition_skew_below("p", 1.5),   # 2.0 >= 1.5 fails
        ]
    ).run(df).collect()
    got = [(r["threshold"], r["passed"], r["metric"]) for r in rows]
    assert (2.5, True, 2.0) in got and (1.5, False, 2.0) in got


def test_suite_partition_skew_guard_empty(spark):
    from vldt_spark.checks.suite import Suite, expect

    df = spark.createDataFrame([], "p string, v int")
    rows = Suite([expect.partition_skew_below("p", 2.0)]).run(df).collect()
    assert len(rows) == 1 and not rows[0]["passed"]


def test_layout_audit_job_exit_codes(spark, tmp_path):
    """The pre-flight CI job: reports land either way; exit 1 when a
    layout gate trips, exit 0 when the layout is within bounds."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.layout_audit import main as audit_main

    out = str(tmp_path / "audit")
    rc = audit_main(
        ["--synthetic", "3000", "--part-cols", "source",
         "--output", out, "--max-skew", "1000.0"]
    )
    summary = json.load(open(out + "/summary.json"))
    assert rc == 0 and summary["n_partitions"] >= 1
    assert spark.read.parquet(out + "/partitions").count() == summary["n_partitions"]

    out2 = str(tmp_path / "audit2")
    rc2 = audit_main(
        ["--synthetic", "3000", "--part-cols", "source",
         "--output", out2, "--max-skew", "1.0"]
    )
    assert rc2 == 1  # max skew is always >= 1.0


def test_file_layout_report_counts_and_key_ranges(spark):
    src = spark.range(100).selectExpr("id", "id AS k")
    root = os.path.join(tempfile.mkdtemp(prefix="vldt_layout_"), "t")
    # range-partition by k so per-file key ranges are disjoint
    src.repartitionByRange(4, "k").write.parquet(root)
    back = spark.read.parquet(root)
    rep = file_layout_report(back, key="k").collect()
    assert len(rep) == 4
    assert sum(r["n_rows"] for r in rep) == 100
    ranges = sorted((r["key_min"], r["key_max"]) for r in rep)
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint = clustering survived into the layout


def test_file_layout_report_keeps_same_named_files_apart(spark):
    # one writing task → every partition directory holds a part file with
    # the same basename; each is still its own row
    src = spark.createDataFrame(
        [("a", i) for i in range(3)] + [("b", i) for i in range(10, 15)], "p string, k long"
    ).coalesce(1)
    root = os.path.join(tempfile.mkdtemp(prefix="vldt_layout_"), "t")
    src.write.partitionBy("p").parquet(root)
    names = [
        f for d in ("p=a", "p=b") for f in os.listdir(os.path.join(root, d))
        if f.endswith(".parquet")
    ]
    assert len(names) == 2 and names[0] == names[1]
    rep = file_layout_report(spark.read.parquet(root), key="k").collect()
    got = sorted((r["file"], r["n_rows"], r["key_min"], r["key_max"]) for r in rep)
    assert got == [(names[0], 3, 0, 2), (names[0], 5, 10, 14)]
