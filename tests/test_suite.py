"""Check-suite runner: one fused pass for row-local and plain-aggregate
expectations, own jobs for the rest, one report frame."""

import uuid

from pyspark.sql import functions as F

from vldt_spark.checks.suite import Suite, expect

NAN = float("nan")


def _jobs_in_group(spark, fn):
    sc = spark.sparkContext
    group = f"suite_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_suite_report_and_gate(spark):
    df = spark.createDataFrame(
        [
            (1, "a-1", 0.5, "x"),
            (2, "a-2", 1.5, "x"),   # range violation (hi=1)
            (2, "b!", None, "y"),   # dup key, regex violation, null score
            (4, "a-4", 0.0, "zz"),  # isin violation
        ],
        "id long, name string, score double, seg string",
    )
    dim = spark.createDataFrame([("x",), ("y",)], "seg string")
    suite = Suite(
        [
            expect.not_null("score", max_nulls=0),
            expect.null_rate_below("score", 0.5),
            expect.range("score", lo=0.0, hi=1.0),
            expect.regex("name", r"^[ab]-\d$"),
            expect.isin("seg", ["x", "y", "zz"]),
            expect.unique("id", max_dup_rows=0),
            expect.ref("seg", dim, "seg", max_violations=1),
        ]
    )
    rep = {(r["check"], r["column"]): r for r in suite.run(df).collect()}
    assert rep[("not_null", "score")]["metric"] == 1.0
    assert rep[("not_null", "score")]["passed"] is False
    assert rep[("null_rate_below", "score")]["metric"] == 0.25
    assert rep[("null_rate_below", "score")]["passed"] is True
    assert rep[("range", "score")]["metric"] == 1.0  # only the 1.5
    assert rep[("regex", "name")]["metric"] == 1.0
    assert rep[("isin", "seg")]["metric"] == 0.0 and rep[("isin", "seg")]["passed"]
    assert rep[("unique", "id")]["metric"] == 2.0  # two rows share id=2
    assert rep[("unique", "id")]["passed"] is False
    # one 'zz' row violates the dim but the threshold allows 1
    assert rep[("ref", "seg")]["metric"] == 1.0
    assert rep[("ref", "seg")]["passed"] is True
    assert suite.passed(df) is False

    clean = df.where(F.col("id") == 1)
    assert Suite([expect.not_null("score"), expect.unique("id")]).passed(clean)


def test_suite_row_local_is_single_pass(spark):
    """Row-local and plain-aggregate expectations fuse into ONE aggregate
    job over one scan; an exact distinct count runs as a job of its own."""
    df = spark.createDataFrame([(1, "a"), (2, "b b")], "id long, name string")
    fused = [
        expect.not_null("id"),
        expect.range("id", lo=0),
        expect.regex("name", "^a$"),
        expect.null_rate_below("name", 0.9),
        expect.row_count_between(1, 10),
        expect.quantile_between("id", 0.5, lo=0, hi=5),
        expect.distinct_count_between("name", 1, 5),
        expect.distinct_text_frac_above("name", 0.5, approx=True),
        expect.pii_frac_below("name", 0.5),
        expect.fertility_between("name", 0.5, 2.0),
    ]
    exact = expect.distinct_count_between("name", 1, 5, approx=False)
    # AQE submits each shuffle stage as a job of its own; without it one
    # aggregate action is exactly one job
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        rep, jobs = _jobs_in_group(spark, lambda: Suite(fused).run(df))
        assert jobs == 1
        assert rep.count() == len(fused)
        _, jobs = _jobs_in_group(spark, lambda: Suite(fused + [exact]).run(df))
        assert jobs == 2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


_GOLDEN_SUITE = Suite(
    [
        expect.row_count_between(1, 10),
        expect.not_null("score"),
        expect.quantile_between("score", 0.5, lo=0.0, hi=1.0),
        expect.null_rate_below("name", 0.5),
        expect.unique("id"),
        expect.range("score", lo=0.0, hi=1.0),
        expect.distinct_count_between("seg", 1, 5),
        expect.regex("name", r"^a-\d$"),
        expect.distinct_count_between("seg", 1, 2, approx=False),
        expect.isin("seg", ["x", "y"]),
        expect.quantile_between("score", 0.25, lo=-1.0, exact=True),
        expect.element_range("tokens", lo=0, hi=50),
        expect.heavy_hitter_share_below("seg", 0.9),
        expect.length_between("text", lo=10, hi=60),
        expect.distinct_text_frac_above("text", 0.5, approx=True),
        expect.size_between("tokens", lo=1, hi=3),
        expect.distinct_seq_frac_above("tokens", 0.5, approx=True),
        expect.distinct_text_frac_above("text", 0.5),
        expect.gopher_pass_frac_above("text", 0.1),
        expect.c4_pass_frac_above("text", 0.1),
        expect.pii_frac_below("text", 0.5),
        expect.fertility_between("text", 1.0, 2.0),
        expect.distinct_seq_frac_above("tokens", 0.5),
    ]
)


_GOLDEN_SCHEMA = "id long, name string, score double, seg string, tokens array<int>, text string"
_GOOD = "Hello world. This is a test sentence here. Another one follows it."
_GOLDEN_ROWS = [
    (1, "a-1", 0.5, "x", [1, 2, 3], _GOOD),
    (2, "a-2", 1.5, "y", [1, 2, 3], "mail bob@example.com or call 555-123-4567 now"),
    (3, "b!", None, "zz", [5, 99], None),
    (4, "a-4", -0.25, None, None, "lorem ipsum dolor {sit} amet"),
    (5, None, 0.75, "x", [], "short"),
    (5, "a-5", 0.1234565, "x", [7], _GOOD),
]

# reports of the kind-ladder runner this table replaced, row for row, but
# for the PII and C4 shares: a NULL text counts in neither share
_GOLDEN_SMALL = [
    ("not_null", "score", 1.0, 0.0, False),
    ("null_rate_below", "name", 0.166667, 0.5, True),
    ("range", "score", 2.0, 0.0, False),
    ("regex", "name", 1.0, 0.0, False),
    ("isin", "seg", 1.0, 0.0, False),
    ("element_range", "tokens", 1.0, 0.0, False),
    ("length_between", "text", 3.0, 0.0, False),
    ("size_between", "tokens", 1.0, 0.0, False),
    ("row_count_between", "*", 6.0, 10.0, True),
    ("quantile_between", "score", 0.5, 1.0, True),
    ("unique", "id", 2.0, 0.0, False),
    ("distinct_count_between", "seg", 3.0, 5.0, True),
    ("distinct_count_between", "seg", 3.0, 2.0, False),
    ("quantile_between", "score", 0.123457, -1.0, True),
    ("heavy_hitter_share_below", "seg", 0.6, 0.9, True),
    ("distinct_text_frac_above", "text", 0.666667, 0.5, True),
    ("distinct_seq_frac_above", "tokens", 0.666667, 0.5, True),
    ("distinct_text_frac_above", "text", 0.666667, 0.5, True),
    ("gopher_pass_frac_above", "text", 0.0, 0.1, False),
    ("c4_pass_frac_above", "text", 0.4, 0.1, True),
    ("pii_frac_below", "text", 0.2, 0.5, True),
    ("fertility_between", "text", 1.444444, 2.0, True),
    ("distinct_seq_frac_above", "tokens", 0.666667, 0.5, True),
]
_GOLDEN_EMPTY = [
    ("not_null", "score", None, 0.0, None),
    ("null_rate_below", "name", None, 0.5, None),
    ("range", "score", None, 0.0, None),
    ("regex", "name", None, 0.0, None),
    ("isin", "seg", None, 0.0, None),
    ("element_range", "tokens", None, 0.0, None),
    ("length_between", "text", None, 0.0, None),
    ("size_between", "tokens", None, 0.0, None),
    ("row_count_between", "*", 0.0, 10.0, False),
    ("quantile_between", "score", NAN, 1.0, False),
    ("unique", "id", 0.0, 0.0, True),
    ("distinct_count_between", "seg", 0.0, 5.0, False),
    ("distinct_count_between", "seg", 0.0, 2.0, False),
    ("quantile_between", "score", NAN, -1.0, False),
    ("heavy_hitter_share_below", "seg", NAN, 0.9, False),
    ("distinct_text_frac_above", "text", NAN, 0.5, False),
    ("distinct_seq_frac_above", "tokens", NAN, 0.5, False),
    ("distinct_text_frac_above", "text", NAN, 0.5, False),
    ("gopher_pass_frac_above", "text", NAN, 0.1, False),
    ("c4_pass_frac_above", "text", NAN, 0.1, False),
    ("pii_frac_below", "text", NAN, 0.5, False),
    ("fertility_between", "text", NAN, 2.0, False),
    ("distinct_seq_frac_above", "tokens", NAN, 0.5, False),
]


def test_suite_plain_aggregate_golden_report(spark):
    """Every plain-aggregate kind, interleaved with row-local and frame
    kinds: the report — values, NaN sentinels, NULL row-local metrics on
    an empty table, and row order — is pinned literally."""
    for rows, want in ((_GOLDEN_ROWS, _GOLDEN_SMALL), ([], _GOLDEN_EMPTY)):
        rep = _GOLDEN_SUITE.run(spark.createDataFrame(rows, _GOLDEN_SCHEMA))
        assert rep.schema.simpleString() == (
            "struct<check:string,column:string,metric:double,threshold:double,passed:boolean>"
        )
        # repr compares NaN to NaN and keeps -0.0 apart from 0.0
        assert repr([tuple(r) for r in rep.collect()]) == repr(want)


def test_suite_psi_expectation(spark):
    ref = spark.range(5000).select((F.col("id") % 100).cast("double").alias("v"))
    same = spark.range(5000).select((F.col("id") % 100).cast("double").alias("v"))
    shifted = spark.range(5000).select(
        ((F.col("id") % 100) + 60).cast("double").alias("v")
    )
    s = Suite([expect.psi_below("v", ref, 0.1, bins=10, lo=0.0, hi=100.0)])
    assert s.passed(same)
    rep = s.run(shifted).first()
    assert rep["passed"] is False and rep["metric"] > 0.1


def test_suite_from_model_matches_engine(spark):
    """A model doubles as a table contract: the derived suite's range
    metrics (one row per bound) sum to the engine's per-row violation
    count for the same field on the same (dirty) table."""
    from vldt_spark import validate
    from vldt_spark.flagship import TokenSequence
    from vldt_spark.sources.token_table import sources_dim, token_sequences

    df = token_sequences(spark, 2000)  # includes injected violations
    dims = {"sources": sources_dim(spark)}
    suite = Suite.from_model(TokenSequence, dims=dims)
    rows = suite.run(df).collect()
    rep = {(r["check"], r["column"]): r for r in rows}
    assert ("unique", "doc_id") in rep and ("ref", "source") in rep
    assert ("regex", "doc_id") in rep and ("range", "n_tok") in rep
    n_tok_ranges = [r["metric"] for r in rows if (r["check"], r["column"]) == ("range", "n_tok")]
    assert len(n_tok_ranges) == 2  # ge=1 and le=2048

    res = validate(df, TokenSequence, id_cols=["doc_id"], dims=dims)
    n_range_engine = (
        res.violations()
        .where((F.col("path") == "n_tok") & F.col("msg").contains("out of range"))
        .count()
    )
    assert sum(n_tok_ranges) == float(n_range_engine)
    n_ref_engine = (
        res.violations().where(F.col("msg").contains("Referential integrity")).count()
    )
    assert rep[("ref", "source")]["metric"] == float(n_ref_engine)


def test_suite_strict_bounds(spark):
    df = spark.createDataFrame([(0.0,), (0.5,), (1.0,)], "x double")
    rep = Suite([expect.range("x", lo=0.0, hi=1.0, lo_strict=True, hi_strict=True)]).run(df).first()
    assert rep["metric"] == 2.0  # 0.0 and 1.0 violate the strict bounds
    rep2 = Suite([expect.range("x", lo=0.0, hi=1.0)]).run(df).first()
    assert rep2["metric"] == 0.0


def test_suite_run_stream_per_window(spark):
    """Continuous contract: per-window report rows equal the batch tier
    run on each window's slice; whole-table expectations are rejected."""
    import pytest as _pytest

    from vldt_spark.streaming import replay

    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1.0), ("2024-01-01 11:00:00", None),
         ("2024-01-02 09:00:00", -3.0), ("2024-01-02 10:00:00", 2.0)],
        "ts_s string, v double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "v")
    # future sentinel closes both real windows
    sentinel = spark.createDataFrame(
        [("2024-06-01 00:00:00", 0.0)], "ts_s string, v double"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "v")

    suite = Suite([expect.not_null("v"), expect.range("v", lo=0.0)])
    out = replay(
        spark,
        [df, sentinel],
        lambda s: suite.run_stream(s, "ts", window="1 day", watermark="1 hour"),
        mode="append",
    )
    rows = {
        (str(r["window_start"])[:10], r["check"]): r
        for r in out.collect()
    }
    assert rows[("2024-01-01", "not_null")]["metric"] == 1.0
    assert rows[("2024-01-01", "range")]["metric"] == 0.0
    assert rows[("2024-01-02", "range")]["metric"] == 1.0
    assert rows[("2024-01-02", "not_null")]["passed"] is False or \
           rows[("2024-01-02", "not_null")]["metric"] == 0.0

    with _pytest.raises(ValueError, match="row-local"):
        replay(spark, [df], lambda s: Suite([expect.unique("v")]).run_stream(s, "ts"), mode="append")


def test_suite_volume_cardinality_quantile_expectations(spark):
    df = spark.createDataFrame(
        [(float(i % 10),) for i in range(100)], "x double"
    )
    suite = Suite(
        [
            expect.row_count_between(lo=50, hi=200),
            expect.distinct_count_between("x", lo=10, hi=10, approx=False),
            expect.quantile_between("x", 0.5, lo=4.0, hi=5.0, exact=True),
        ]
    )
    rep = {r["check"]: r for r in suite.run(df).collect()}
    assert rep["row_count_between"]["metric"] == 100.0
    assert rep["row_count_between"]["passed"] is True
    assert rep["distinct_count_between"]["metric"] == 10.0
    assert rep["quantile_between"]["passed"] is True
    # volume guard trips on an empty slice
    empty = df.where(F.col("x") < 0)
    assert Suite([expect.row_count_between(lo=1)]).passed(empty) is False
    # sketch modes run too (values approximate, bounds generous)
    loose = Suite(
        [
            expect.distinct_count_between("x", lo=5, hi=20),
            expect.quantile_between("x", 0.5, lo=3.0, hi=6.0),
        ]
    )
    assert loose.passed(df) is True


def test_run_suite_job_exit_codes(spark, tmp_path):
    """The CI-gate job: exit 1 when the contract fails (synthetic table
    has injected violations), report + summary land either way; exit 0 on
    a clean contract."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.run_suite import main as suite_main

    out = str(tmp_path / "contract")
    rc = suite_main(["--synthetic", "3000", "--output", out])
    summary = json.load(open(out + "/summary.json"))
    assert rc == 1 and summary["passed"] is False
    assert summary["n_failed"] >= 1
    rep = spark.read.parquet(out + "/report")
    assert rep.count() == summary["n_expectations"]

    # a trivially-satisfiable contract on the same table passes
    src = str(tmp_path / "tbl")
    spark.range(10).write.parquet(src)
    out2 = str(tmp_path / "contract2")
    rc2 = suite_main(["--input", src, "--output", out2])
    assert rc2 == 0
    assert json.load(open(out2 + "/summary.json"))["passed"] is True


def test_suite_element_range_and_model_derivation(spark):
    """Array-element bounds: a row violates when ANY element is out of
    range; from_model derives it from Field(element_ge/element_le) and the
    metric equals the engine's count of rows with an indexed-path range
    violation (the engine reports the first bad element per row)."""
    df = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [4, -1, 5]), (3, None), (4, [70000])],
        "id long, tokens array<long>",
    )
    rep = (
        Suite([expect.element_range("tokens", lo=0, hi=50256)])
        .run(df)
        .first()
    )
    assert rep["metric"] == 2.0  # rows 2 (-1) and 4 (70000); null row skipped

    from vldt_spark import validate
    from vldt_spark.flagship import TokenSequence
    from vldt_spark.sources.token_table import sources_dim, token_sequences

    data = token_sequences(spark, 2000)
    suite = Suite.from_model(TokenSequence, dims={"sources": sources_dim(spark)})
    rep2 = {(r["check"], r["column"]): r for r in suite.run(data).collect()}
    assert ("element_range", "tokens") in rep2
    res = validate(data, TokenSequence, id_cols=["doc_id"],
                   dims={"sources": sources_dim(spark)})
    n_engine = (
        res.violations()
        .where(F.col("path").startswith("tokens.")
               & F.col("msg").contains("out of range"))
        .count()
    )
    assert rep2[("element_range", "tokens")]["metric"] == float(n_engine)


def test_suite_size_and_length_expectations(spark):
    df = spark.createDataFrame(
        [("ab", [1]), ("abcdef", [1, 2, 3]), (None, [])],
        "s string, arr array<long>",
    )
    rep = {r["check"]: r for r in Suite(
        [
            expect.length_between("s", lo=3, hi=10),
            expect.size_between("arr", lo=1, hi=2),
        ]
    ).run(df).collect()}
    assert rep["length_between"]["metric"] == 1.0  # "ab"; null skipped
    assert rep["size_between"]["metric"] == 2.0    # [] and [1,2,3]

    # from_model: TokenSequence's tokens min_size=1 derives size_between,
    # doc_id has no size bounds
    from vldt_spark.flagship import TokenSequence

    kinds = {(e.kind, e.column) for e in Suite.from_model(TokenSequence).expectations}
    assert ("size_between", "tokens") in kinds


def test_suite_js_and_wasserstein_expectations(spark):
    """js_below / wasserstein_below: identical distributions pass, a
    shifted one fails with the metric in the expected range (JS bounded by
    ln 2; W1 in column units ≈ the injected offset); empty current data
    reads as maximal drift, not a pass."""
    import math

    ref = spark.range(5000).select((F.col("id") % 100).cast("double").alias("v"))
    same = spark.range(5000).select((F.col("id") % 100).cast("double").alias("v"))
    shifted = spark.range(5000).select(
        ((F.col("id") % 100) + 60).cast("double").alias("v")
    )
    s = Suite(
        [
            expect.js_below("v", ref, 0.1, bins=10, lo=0.0, hi=100.0),
            expect.wasserstein_below("v", ref, 15.0, bins=10, lo=0.0, hi=100.0),
        ]
    )
    assert s.passed(same)
    rep = {r["check"]: r for r in s.run(shifted).collect()}
    js = rep["js_below"]
    assert js["passed"] is False and 0.1 < js["metric"] <= math.log(2) + 1e-9
    w1 = rep["wasserstein_below"]
    # 60-unit shift clipped into [0,100] bins → W1 well past the 15-unit bar
    assert w1["passed"] is False and w1["metric"] > 30.0
    # empty current frame: both guards must FAIL (prob-0 side reads as
    # maximal drift: JS → ln(2)/2 ≈ 0.347 against the eps-smoothed zero
    # vector, W1 → the ref distribution's full mean distance)
    empty = ref.where(F.lit(False))
    assert not Suite([expect.js_below("v", ref, 0.3, bins=10, lo=0.0, hi=100.0)]).passed(empty)
    assert not Suite(
        [expect.wasserstein_below("v", ref, 40.0, bins=10, lo=0.0, hi=100.0)]
    ).passed(empty)


def test_suite_centroid_cosine_expectation(spark):
    """centroid_cosine_above: an aligned batch passes, an orthogonal batch
    fails with cosine ~0, and empty/zero-centroid inputs fail (NaN) instead
    of crashing the suite."""
    ref = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "id long, emb array<float>"
    )
    aligned = spark.createDataFrame(
        [(1, [0.9, 0.0]), (2, [1.1, 0.0])], "id long, emb array<float>"
    )
    orthogonal = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [0.0, 1.0])], "id long, emb array<float>"
    )
    s = Suite([expect.centroid_cosine_above("emb", ref, 0.8)])
    assert s.passed(aligned)
    rep = s.run(orthogonal).first()
    assert rep["passed"] is False and abs(rep["metric"]) < 1e-9
    # zero centroid → cosine undefined → NaN metric, failed row, no crash
    zero = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [-1.0, -1.0])], "id long, emb array<float>"
    )
    zrep = s.run(zero).first()
    assert zrep["passed"] is False and zrep["metric"] != zrep["metric"]
    assert not s.passed(ref.where(F.lit(False)))


def test_suite_schema_stable_guard(spark):
    from vldt_spark.checks.suite import Suite, expect

    base = spark.createDataFrame([(1, "a")], "i int, v string")
    evolved = base.withColumn("extra", F.lit(1.0))
    rep = {
        (r["check"], r["threshold"], r["passed"]): r
        for r in Suite(
            [expect.schema_stable(base), expect.schema_stable(base, allow_added=True)]
        ).run(evolved).collect()
    }
    assert ("schema_stable", 0.0, False) in rep  # strict: added column fails
    assert ("schema_stable", 0.0, True) in rep  # allow_added tolerates it
    # dropped columns fail even in allow_added mode
    rep2 = Suite([expect.schema_stable(base, allow_added=True)]).run(
        base.drop("v")
    ).first()
    assert rep2["passed"] is False and rep2["metric"] == 1.0


def test_suite_heavy_hitter_share_guard(spark):
    from vldt_spark.checks.suite import Suite, expect

    df = spark.createDataFrame(
        [("a",)] * 8 + [("b",)] * 2, "v string"
    )
    rows = Suite(
        [
            expect.heavy_hitter_share_below("v", 0.9),  # 0.8 < 0.9 -> pass
            expect.heavy_hitter_share_below("v", 0.5),  # 0.8 >= 0.5 -> fail
        ]
    ).run(df).collect()
    by_thr = {r["threshold"]: r for r in rows}
    assert by_thr[0.9]["passed"] is True and by_thr[0.9]["metric"] == 0.8
    assert by_thr[0.5]["passed"] is False
    # empty column -> NaN metric, failed (never a crash)
    empty = spark.createDataFrame([(None,)], "v string")
    r = Suite([expect.heavy_hitter_share_below("v", 0.5)]).run(empty).first()
    assert r["passed"] is False and r["metric"] != r["metric"]
