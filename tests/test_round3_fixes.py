"""Round-3 parity + robustness fixes.

Covers: A18 AFTER-validator re-validation (reference
/root/reference/src/validation/validation_validators.cpp:172-218 re-setattrs
the transformed value, re-running validation), the bounded
``exact_duplicates`` aggregation buffer (WindowGroupLimit), LSH null /
wrong-dim vector handling, ``Suite.from_model`` skipping not_null for
defaulted fields, None-aggregate guards, the concurrent whole-table suite
tier, and the weakref session caches.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from vldt_spark.engine import ValidationEngine
from vldt_spark.fields import Field
from vldt_spark.model import Model
from vldt_spark.validators import Mode, field_validator


# -- A18: AFTER-validator output re-enters validation ----------------------


class TripledCap(Model):
    rid: int
    v: float = Field(ge=0.0, le=100.0)

    @field_validator("v", mode=Mode.AFTER)
    def triple(s):
        return s * 3.0


def test_after_validator_output_revalidated(spark):
    """A validator returning an out-of-range value flags the row — the
    reference re-runs validation on the transformed value and raises; here
    is_valid=false + a violation row (not silently laundered past the
    constraints that ran pre-UDF)."""
    df = spark.createDataFrame([(1, 10.0), (2, 40.0)], "rid long, v double")
    res = ValidationEngine(TripledCap).run(df, id_cols=["rid"])
    out = {r["rid"]: r for r in res.annotated.collect()}
    # transform applied in both rows
    assert out[1]["v"] == 30.0 and out[2]["v"] == 120.0
    # 40*3=120 > le=100 -> violation; 10*3=30 passes
    assert out[1]["is_valid"] is True
    assert out[2]["is_valid"] is False
    v = res.violations().collect()
    assert [(r["rid"], r["path"]) for r in v] == [(2, "v")]
    assert "<= 100.0" in v[0]["msg"]


def test_after_validator_no_duplicate_violations(spark):
    """A value failing the SAME constraint before and after the transform
    produces ONE violation (array_distinct), mirroring the reference's
    raise-once-per-constraint behavior."""

    class Identity(Model):
        rid: int
        v: float = Field(ge=0.0)

        @field_validator("v", mode=Mode.AFTER)
        def keep(s):
            return s

    df = spark.createDataFrame([(1, -5.0)], "rid long, v double")
    res = ValidationEngine(Identity).run(df, id_cols=["rid"])
    assert res.violations().count() == 1


def test_after_validator_null_output_violates(spark):
    """AFTER validator returning null for a required field -> NoneType
    violation (the re-setattr would raise in the reference)."""

    class Nuller(Model):
        rid: int
        v: float

        @field_validator("v", mode=Mode.AFTER)
        def nullify(s):
            return pd.Series([None] * len(s), dtype="float64", index=s.index)

    df = spark.createDataFrame([(1, 3.0)], "rid long, v double")
    res = ValidationEngine(Nuller).run(df, id_cols=["rid"])
    rows = res.violations().collect()
    assert [(r["rid"], r["path"], r["msg"]) for r in rows] == [
        (1, "v", "Expected type float, got NoneType")
    ]


# -- exact_duplicates: bounded buffer --------------------------------------


def test_exact_duplicates_capped_and_plan_bounded(spark):
    from vldt_spark.functions.dedup import exact_duplicates

    rows = [(f"d{i:03d}", "same text") for i in range(50)] + [
        ("x1", "unique one"),
        ("x2", "other text"),
        ("x3", "other text"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    rep = exact_duplicates(df, max_ids=5)
    got = {r["n_docs"]: r["doc_ids"] for r in rep.collect()}
    assert got[50] == [f"d{i:03d}" for i in range(5)]  # 5 smallest ids
    assert got[2] == ["x2", "x3"]
    # the rank-limit must reach the physical plan (WindowGroupLimit bounds
    # both the window buffer and, partial-side, the shuffle) and no
    # unbounded collect_list over the raw group may remain
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan

    # uncapped debugging path still exact
    full = exact_duplicates(df, max_ids=None)
    got_full = {r["n_docs"]: len(r["doc_ids"]) for r in full.collect()}
    assert got_full[50] == 50


# -- LSH: null / wrong-dim vectors -----------------------------------------


def test_lsh_null_and_wrong_dim_vectors_dropped(spark):
    from vldt_spark.functions.similarity import (
        embedding_near_duplicates,
        lsh_bucketed_topk,
    )

    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.04, 0.0, 0.0]
    rows = [
        ("a", base),
        ("b", near),
        ("n1", None),
        ("n2", None),
        ("short", [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    pairs = embedding_near_duplicates(
        df, threshold=0.9, n_planes=4, n_tables=8, dim=4
    ).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert ("a", "b") in ids
    flat = {x for p in ids for x in p}
    assert not flat & {"n1", "n2", "short"}  # dropped, not bucket-0 collided

    topk = lsh_bucketed_topk(
        df, df.where(F.col("vec_id") == "a"), k=3, n_planes=4, n_tables=8, dim=4
    ).collect()
    assert all(r["cosine"] is not None for r in topk)
    assert not {r["vec_id"] for r in topk} & {"n1", "n2", "short"}


# -- Suite fixes ------------------------------------------------------------


def test_from_model_skips_not_null_for_defaulted_fields(spark):
    from vldt_spark.checks.suite import Suite

    class WithDefault(Model):
        rid: int
        tag: str = Field(default="web")
        score: float

    s = Suite.from_model(WithDefault)
    not_null_cols = {e.column for e in s.expectations if e.kind == "not_null"}
    # rid/score required; tag is filled during coercion -> no contract row
    assert not_null_cols == {"rid", "score"}
    # engine agrees: raw nulls in tag validate clean
    df = spark.createDataFrame([(1, None, 0.5)], "rid long, tag string, score double")
    res = ValidationEngine(WithDefault).run(df, id_cols=["rid"])
    assert res.invalid.count() == 0
    assert s.passed(df)


def test_suite_quantile_and_psi_null_guards(spark):
    from vldt_spark.checks.suite import Suite, expect

    empty_vals = spark.createDataFrame(
        [(1, None), (2, None)], "rid long, v double"
    )
    rep = Suite(
        [expect.quantile_between("v", 0.5, lo=0.0, hi=1.0)]
    ).run(empty_vals).collect()
    assert len(rep) == 1 and rep[0]["passed"] is False

    rep2 = Suite(
        [expect.psi_below("v", empty_vals, 0.2, bins=4)]
    ).run(empty_vals).collect()
    assert len(rep2) == 1 and rep2[0]["passed"] is False


def test_zscore_outliers_all_null_column(spark):
    import math

    from vldt_spark.checks.column_stats import zscore_outliers

    df = spark.createDataFrame(
        [(1.0, None), (2.0, None), (100.0, None)], "a double, b double"
    )
    rep = {r["column"]: r for r in zscore_outliers(df, ["a", "b"], z=1.0).collect()}
    assert math.isnan(rep["b"]["mean"]) and rep["b"]["n_below"] == 0
    assert rep["a"]["n_below"] + rep["a"]["n_above"] >= 1


def test_suite_concurrent_equals_serial(spark):
    from vldt_spark.checks.suite import Suite, expect

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (2, "c", 3.0)], "k long, s string, v double"
    )
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    suite = Suite(
        [
            expect.not_null("s"),
            expect.unique("k"),
            expect.ref("k", dim, "k"),
            expect.row_count_between(1, 10),
            expect.quantile_between("v", 0.5, lo=0.0, hi=5.0),
        ]
    )
    # the frame checks (unique, ref) run from the thread pool while the
    # fused pass runs; the report equals the strictly serial one
    assert [tuple(r) for r in suite.run(df).collect()] == [
        ("not_null", "s", 0.0, 0.0, True),
        ("unique", "k", 2.0, 0.0, False),
        ("ref", "k", 0.0, 0.0, True),
        ("row_count_between", "*", 3.0, 10.0, True),
        ("quantile_between", "v", 2.0, 5.0, True),
    ]


# -- weakref session caches -------------------------------------------------


def test_empty_violations_cached_per_session(spark):
    from vldt_spark import errors

    c1 = errors.empty_violations()
    c2 = errors.empty_violations()
    assert c1 is c2  # cache hit for the live session
    assert spark in errors._SESSION_COLUMNS


# -- A23: nested type-keyed dict serializers --------------------------------


def test_nested_dict_serializer_hooks(spark):
    """Type-keyed serializer consulted at EVERY node (reference
    convert_to_dict, /root/reference/src/conversion/dict_utils.cpp:244-282;
    tests/test_dict.py:172-177 float -> '3.14'): floats inside nested
    structs, arrays, and map values all serialize; untouched types pass
    through; a matching hook claims the node without recursing below."""
    from pyspark.sql import types as T

    from vldt_spark.sources.readers import to_dict_rows, to_json_rows

    schema = T.StructType([
        T.StructField("rid", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("meta", T.StructType([
            T.StructField("score", T.DoubleType()),
            T.StructField("tag", T.StringType()),
        ])),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
        T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
    ])
    df = spark.createDataFrame(
        [(1, 3.14159, {"score": 2.5, "tag": "x"}, [1.25, 2.75], {"a": 0.5})],
        schema,
    )
    fmt = lambda c: F.concat(F.lit("$"), F.round(c, 2).cast("string"))
    out = to_dict_rows(df, type_serializers={float: fmt}).first()
    assert out["price"] == "$3.14"
    assert out["meta"]["score"] == "$2.5" and out["meta"]["tag"] == "x"
    assert out["vals"] == ["$1.25", "$2.75"]
    assert out["m"] == {"a": "$0.5"}
    assert out["rid"] == 1  # int column untouched

    j = to_json_rows(df, type_serializers={float: fmt}).first()["json"]
    assert '"score":"$2.5"' in j


def test_nested_dict_serializer_null_struct(spark):
    from pyspark.sql import types as T

    from vldt_spark.sources.readers import to_dict_rows

    schema = T.StructType([
        T.StructField("rid", T.LongType()),
        T.StructField("meta", T.StructType([T.StructField("score", T.DoubleType())])),
    ])
    df = spark.createDataFrame([(1, None)], schema)
    out = to_dict_rows(
        df, type_serializers={float: lambda c: F.round(c, 1).cast("string")}
    ).first()
    assert out["meta"] is None  # null struct stays null, not struct-of-nulls


def test_suite_ks_below_expectation(spark):
    """ks_below: identical distributions pass, a shifted one fails; all-null
    reference degrades to a failed row (same guard path as psi_below)."""
    from vldt_spark.checks.suite import Suite, expect

    ref = spark.createDataFrame([(float(i % 50),) for i in range(300)], "v double")
    same = spark.createDataFrame([(float(i % 50),) for i in range(200)], "v double")
    shifted = spark.createDataFrame([(40.0 + i % 10,) for i in range(200)], "v double")

    ok = Suite([expect.ks_below("v", ref, 0.1, bins=10)]).run(same).first()
    assert ok["passed"] is True and ok["metric"] < 0.05
    bad = Suite([expect.ks_below("v", ref, 0.1, bins=10)]).run(shifted).first()
    assert bad["passed"] is False and bad["metric"] > 0.5


def test_suite_ks_and_psi_below_all_null_current(spark):
    """All-null CURRENT column: ks_below/psi_below report a failed row
    instead of crashing on float(None) from the 0/0 CDF division."""
    from vldt_spark.checks.suite import Suite, expect

    ref = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
    cur = spark.createDataFrame([(None,), (None,)], "v double")
    rep = Suite([
        expect.ks_below("v", ref, 0.1, bins=5),
        expect.psi_below("v", ref, 0.1, bins=5),
    ]).run(cur).collect()
    assert len(rep) == 2 and all(r["passed"] is False for r in rep)


def test_new_ops_reject_degenerate_params(spark):
    """Guard-rail contracts: loud ValueErrors instead of opaque executor
    failures for empty/invalid configurations."""
    import pytest
    from pyspark.sql import functions as F

    from vldt_spark.functions.packing import chunk_layout
    from vldt_spark.functions.sampling import split_assign
    from vldt_spark.streaming.drift_stream import stream_centroid_drift

    df = spark.range(3).withColumnRenamed("id", "doc_id").withColumn(
        "n_tok", F.lit(5)
    )
    with pytest.raises(ValueError, match="at least one split"):
        split_assign(df, "doc_id", {})
    with pytest.raises(ValueError, match="positive sum"):
        split_assign(df, "doc_id", {"a": 0.0, "b": 0.0})
    with pytest.raises(ValueError, match="must be >= 1"):
        chunk_layout(df, max_tokens=0)
    with pytest.raises(ValueError, match="must be >= 1"):
        chunk_layout(df, buckets=0)
    empty_ref = spark.createDataFrame([], "emb array<float>")
    with pytest.raises(ValueError, match="no non-null"):
        stream_centroid_drift(df.withColumn("emb", F.lit(None).cast("array<float>")).withColumn("ts", F.current_timestamp()), empty_ref, "emb", "ts")


def test_js_chi2_by_group_consistency(spark):
    """Per-group JS/chi2 agree with the whole-table statistics when the
    'group' column is constant, and a shifted group scores strictly
    higher than an in-distribution one."""
    from pyspark.sql import functions as F

    from vldt_spark.checks.drift import (
        chi2_by_group,
        chi2_from_histograms,
        histogram,
        js_by_group,
        js_divergence,
    )

    # 3/4 of rows are "same" (values 0..99) so they dominate the pooled
    # reference; the "shifted" quarter (+50) must diverge more from it
    base = spark.range(2000).select(
        (F.col("id") % 100).cast("double").alias("v"),
        F.when(F.col("id") % 4 == 0, F.lit("shifted"))
        .otherwise(F.lit("same"))
        .alias("g"),
    ).withColumn("v", F.when(F.col("g") == "shifted", F.col("v") + 50).otherwise(F.col("v")))

    js = {r["g"]: r["js"] for r in js_by_group(base, "v", "g", bins=10, lo=0.0, hi=150.0).collect()}
    chi2 = {r["g"]: r["chi2"] for r in chi2_by_group(base, "v", "g", bins=10, lo=0.0, hi=150.0).collect()}
    assert js["shifted"] > js["same"] > 0
    assert chi2["shifted"] > chi2["same"] > 0

    # constant group == whole-table statistic (vs itself -> 0 divergence)
    one = base.withColumn("g", F.lit("all"))
    h = histogram(one, "v", bins=10, lo=0.0, hi=150.0)
    whole_js = js_divergence(h, h).first()["js"]
    grp_js = js_by_group(one, "v", "g", bins=10, lo=0.0, hi=150.0).first()["js"]
    assert grp_js == 0.0 and whole_js == 0.0
    whole_chi2 = chi2_from_histograms(h, h).first()["chi2"]
    grp_chi2 = chi2_by_group(one, "v", "g", bins=10, lo=0.0, hi=150.0).first()["chi2"]
    assert grp_chi2 == 0.0 and whole_chi2 == 0.0


def test_wasserstein_exact_on_gapped_supports(spark):
    """W1 weights each observed bin's |dCDF| by the gap to the next
    observed bin: a full-range shift (all ref mass in bin 0, all current
    mass in bin 19) scores 19 bin widths, not 1."""
    from pyspark.sql import functions as F

    from vldt_spark.checks.drift import (
        wasserstein_by_group,
        wasserstein_from_histograms,
    )

    h_ref = spark.createDataFrame([(0, 100)], "bin int, n long")
    h_cur = spark.createDataFrame([(19, 100)], "bin int, n long")
    w1 = wasserstein_from_histograms(h_ref, h_cur, bin_width=1.0).first()["w1"]
    assert w1 == 19.0

    # by-group twin: group 'far' at value ~195 (bin 19), reference is the
    # whole table dominated by 'near' at ~5 (bin 0)
    df = spark.range(200).select(
        F.when(F.col("id") % 2 == 0, F.lit("near")).otherwise(F.lit("far")).alias("g"),
        F.when(F.col("id") % 2 == 0, F.lit(5.0)).otherwise(F.lit(195.0)).alias("v"),
    )
    out = {r["g"]: r["w1"] for r in wasserstein_by_group(df, "v", "g", bins=20, lo=0.0, hi=200.0).collect()}
    # each group's CDF differs from the 50/50 mix by 0.5 across the full
    # 19-bin gap: W1 = 0.5 * 19 * 10.0 = 95.0
    assert out["near"] == 95.0 and out["far"] == 95.0


def test_chi2_null_on_empty_current_and_bin_expr_guard(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vldt_spark.checks.drift import bin_expr, chi2_from_histograms

    h_ref = spark.createDataFrame([(0, 10), (1, 10)], "bin int, n long")
    h_cur = spark.createDataFrame([], "bin int, n long")
    row = chi2_from_histograms(h_ref, h_cur).first()
    assert row["chi2"] is None  # undefined, not a DIVIDE_BY_ZERO crash

    with _pytest.raises(ValueError, match="hi > lo"):
        bin_expr(F.col("x"), bins=10, lo=5.0, hi=5.0)
