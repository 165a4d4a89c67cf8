"""Distributed-check tests: drift detection, column stats, uniqueness,
RI — on synthetic tables with known properties."""

import pytest
from pyspark.sql import functions as F

from vldt_spark.checks.column_stats import column_profile, column_stats, numeric_quantiles
from vldt_spark.checks.drift import drift_report, histogram, kl_divergence, psi
from vldt_spark.checks.referential import invalid_fk_values, ri_violation_rows
from vldt_spark.checks.uniqueness import duplicate_keys, duplicate_rows, uniqueness_report
from vldt_spark.sources.token_table import token_sequences, token_sequences_shifted


def test_drift_detects_shift_and_not_identity(spark):
    a = token_sequences(spark, 4000, seed=42, clean=True).select("n_tok", "source")
    b = token_sequences(spark, 4000, seed=77, clean=True).select("n_tok", "source")
    shifted = token_sequences_shifted(spark, 4000).select("n_tok", "source")
    same = drift_report(a, b, numeric_cols=["n_tok"], categorical_cols=["source"])
    drift = drift_report(a, shifted, numeric_cols=["n_tok"], categorical_cols=["source"])
    same_by = {r["column"]: r for r in same}
    drift_by = {r["column"]: r for r in drift}
    # same distribution, different seed → PSI under the 0.1 stability bar
    assert same_by["n_tok"]["psi"] < 0.1
    assert same_by["source"]["psi"] < 0.1
    # shifted μ and source mix → clearly drifted
    assert drift_by["n_tok"]["psi"] > 0.1
    assert drift_by["source"]["psi"] > 0.25


def test_histogram_covers_all_rows(spark):
    df = token_sequences(spark, 2000, seed=1, clean=True)
    h = histogram(df, "n_tok", bins=10)
    assert h.agg(F.sum("n")).first()[0] == 2000
    bins = [r["bin"] for r in h.collect()]
    assert min(bins) >= 0 and max(bins) <= 9


def test_column_stats_and_profile(spark):
    df = spark.createDataFrame(
        [(1, 2.0, "a"), (2, None, "b"), (3, 6.0, None), (3, 8.0, "a")],
        "k long, v double, s string",
    )
    stats = {r["column"]: r for r in column_stats(df, approx_distinct=False).collect()}
    assert stats["v"]["n_null"] == 1 and abs(stats["v"]["null_rate"] - 0.25) < 1e-9
    assert stats["k"]["n_distinct"] == 3
    assert stats["v"]["min"] == "2.0" and stats["v"]["max"] == "8.0"
    prof = {r["column"]: r for r in column_profile(df, ["k", "v"]).collect()}
    assert abs(prof["k"]["mean"] - 2.25) < 1e-9


def test_quantiles_exact(spark):
    df = spark.range(1, 101).select(F.col("id").cast("double").alias("x"))
    q = {(r["p"]): r["q"] for r in numeric_quantiles(df, ["x"], [0.5], exact=True).collect()}
    # the scale path (percentile_approx sketch — what bench.py times) must
    # agree with exact within the sketch's rank-error tolerance
    qa = {(r["p"]): r["q"] for r in numeric_quantiles(df, ["x"], [0.5]).collect()}
    assert abs(qa[0.5] - q[0.5]) <= max(1.0, 0.01 * abs(q[0.5])), (qa, q)
    assert abs(q[0.5] - 50.5) < 1e-9


def test_uniqueness_salted_matches_naive(spark):
    df = spark.createDataFrame(
        [(k,) for k in ["a", "a", "b", "c", "c", "c", None]], "k string"
    )
    dups = {(r["k"], r["n_dups"]) for r in duplicate_keys(df, "k").collect()}
    assert dups == {("a", 2), ("c", 3)}
    assert duplicate_rows(df, "k").count() == 5
    rep = uniqueness_report(df, "k").first()
    assert rep["n_rows"] == 7 and rep["n_nonnull"] == 6
    assert rep["n_dup_keys"] == 2 and rep["n_dup_rows"] == 5


def test_ri_anti_join(spark):
    fact = spark.createDataFrame([(1,), (2,), (9,), (None,)], "fk int")
    dim = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    bad = invalid_fk_values(fact, "fk", dim, "pk").collect()
    assert [r["fk"] for r in bad] == [9]
    rows = ri_violation_rows(fact, "fk", dim, "pk").collect()
    assert [r["fk"] for r in rows] == [9]  # null FK not an RI violation


def test_schema_conformance(spark):
    from vldt_spark.checks.schema_conf import conforms, schema_conformance
    from vldt_spark.flagship import TokenSequence

    good = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string, extra double"
    )
    rep = {r["field"]: r["status"] for r in schema_conformance(spark, good, TokenSequence).collect()}
    assert rep["doc_id"] == "exact"
    assert rep["tokens"] == "lossless"   # int elements widen to declared long
    assert rep["extra"] == "extra_ignored"
    assert conforms(spark, good, TokenSequence)

    bad = spark.createDataFrame([], "doc_id string, n_tok int")
    rep2 = {r["field"]: r["status"] for r in schema_conformance(spark, bad, TokenSequence).collect()}
    assert rep2["tokens"] == "missing" and rep2["source"] == "missing"
    assert not conforms(spark, bad, TokenSequence)


def test_ks_statistic_detects_shift(spark):
    from vldt_spark.checks.drift import histogram, ks_from_histograms
    from vldt_spark.sources.token_table import token_sequences, token_sequences_shifted

    a = token_sequences(spark, 4000, seed=42, clean=True)
    b = token_sequences(spark, 4000, seed=77, clean=True)
    shifted = token_sequences_shifted(spark, 4000)
    lo, hi = 0.0, 2048.0
    ha = histogram(a, "n_tok", bins=20, lo=lo, hi=hi)
    hb = histogram(b, "n_tok", bins=20, lo=lo, hi=hi)
    hs = histogram(shifted, "n_tok", bins=20, lo=lo, hi=hi)
    ks_same = ks_from_histograms(ha, hb).first()["ks"]
    ks_drift = ks_from_histograms(ha, hs).first()["ks"]
    assert 0.0 <= ks_same < 0.05  # same distribution, different seed
    assert ks_drift > 0.08  # shifted token-length distribution
    # identity: KS of a histogram with itself is exactly 0
    assert ks_from_histograms(ha, ha).first()["ks"] == 0.0


def test_psi_by_group_flags_only_shifted_partition(spark):
    """Per-partition drift: deterministic distributions — group 'same'
    matches the reference exactly (PSI ~ 0), group 'shifted' is offset and
    must cross the 0.1 drift bar."""
    from pyspark.sql import functions as F

    from vldt_spark.checks.drift import psi_by_group

    ref = spark.range(20000).select((F.col("id") % 100).cast("double").alias("v"))
    same = spark.range(20000).select(
        F.lit("same").alias("g"), (F.col("id") % 100).cast("double").alias("v")
    )
    shifted = spark.range(20000).select(
        F.lit("shifted").alias("g"),
        ((F.col("id") % 100) * 0.5 + 50).cast("double").alias("v"),
    )
    out = {r["g"]: r["psi"] for r in
           psi_by_group(same.unionByName(shifted), "v", "g",
                        bins=10, lo=0.0, hi=100.0, ref=ref).collect()}
    assert out["same"] < 1e-6  # identical distribution -> PSI ~ 0
    assert out["shifted"] > 0.1


def test_ri_report_counts_per_invalid_value(spark):
    from vldt_spark.checks.referential import ri_report

    fact = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "zz"), (4, "zz"), (5, "zz"), (6, None)],
        "id long, fk string",
    )
    dim = spark.createDataFrame([("a",), ("b",)], "pk string")
    rows = {r["fk"]: r["n_rows"] for r in ri_report(fact, "fk", dim, "pk").collect()}
    assert rows == {"zz": 3}  # nulls are not RI violations


def test_zscore_outliers_counts(spark):
    from vldt_spark.checks.column_stats import zscore_outliers

    # mean=0, sd=sqrt(200/7)≈5.35; the ±10 points sit outside z=1 (±5.35)
    vals = [0.0, 0.0, 0.0, 0.0, 0.0, 10.0, -10.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = zscore_outliers(df, ["x"], z=1.0).first()
    assert row["n"] == 7
    assert row["n_below"] == 1 and row["n_above"] == 1
    assert row["lo"] < 0 < row["hi"]


def test_frequent_values_topk_plan_and_ties(spark):
    from vldt_spark.checks.column_stats import frequent_values

    df = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 3 + [("c",)] * 1 + [(None,)], "v string"
    )
    out = frequent_values(df, "v", k=2)
    rows = out.collect()
    # tie between a and b breaks on the value; null excluded
    assert [(r["v"], r["n"]) for r in rows] == [("a", 3), ("b", 3)]
    # top-k plans as TakeOrderedAndProject, not a global sort
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_ks_and_categorical_psi_by_group(spark):
    """Per-group KS and categorical PSI: a shifted group scores higher than
    an in-distribution one; identical-to-reference groups score ~0."""
    from pyspark.sql import functions as F

    from vldt_spark.checks.drift import categorical_psi_by_group, ks_by_group

    rows = []
    for i in range(400):
        rows.append(("same", float(i % 100), "en" if i % 5 else "fr"))
    for i in range(400):
        # heavily shifted numeric + inverted language mix
        rows.append(("shifted", float(50 + i % 50), "fr" if i % 5 else "en"))
    df = spark.createDataFrame(rows, "grp string, v double, lang string")
    ref = df.where(F.col("grp") == "same")

    ks = {r["grp"]: r["ks"] for r in ks_by_group(
        df, "v", "grp", bins=10, lo=0.0, hi=100.0, ref=ref
    ).collect()}
    assert ks["same"] < 0.01
    assert ks["shifted"] > 0.3

    psi = {r["grp"]: r["psi"] for r in categorical_psi_by_group(
        df, "lang", "grp", ref=ref
    ).collect()}
    assert abs(psi["same"]) < 1e-6
    assert psi["shifted"] > 0.5


def test_js_chi2_wasserstein_detect_shift(spark):
    """The three round-3 drift statistics share the KS test's fixture:
    same-distribution pairs stay near 0 / below significance, the shifted
    pair clearly alerts, identity is exact 0."""
    import math

    from vldt_spark.checks.drift import (
        chi2_from_histograms,
        histogram,
        js_divergence,
        wasserstein_from_histograms,
    )
    from vldt_spark.sources.token_table import token_sequences, token_sequences_shifted

    a = token_sequences(spark, 4000, seed=42, clean=True)
    b = token_sequences(spark, 4000, seed=77, clean=True)
    shifted = token_sequences_shifted(spark, 4000)
    lo, hi = 0.0, 2048.0
    ha = histogram(a, "n_tok", bins=20, lo=lo, hi=hi)
    hb = histogram(b, "n_tok", bins=20, lo=lo, hi=hi)
    hs = histogram(shifted, "n_tok", bins=20, lo=lo, hi=hi)

    js_same = js_divergence(ha, hb).first()["js"]
    js_drift = js_divergence(ha, hs).first()["js"]
    assert 0.0 <= js_same < 0.01
    assert js_drift > 0.015 and js_drift > 10 * js_same
    assert js_drift <= math.log(2) + 1e-9  # JS bound
    assert js_divergence(ha, ha).first()["js"] == 0.0

    chi2_same = chi2_from_histograms(ha, hb).first()["chi2"]
    chi2_drift = chi2_from_histograms(ha, hs).first()["chi2"]
    # 20 bins → df ≈ 19; chi2 > 200 is far past any significance level
    assert chi2_drift > 200.0 and chi2_drift > 10 * chi2_same
    assert chi2_from_histograms(ha, ha).first()["chi2"] == 0.0

    w_same = wasserstein_from_histograms(ha, hb, bin_width=102.4).first()["w1"]
    w_drift = wasserstein_from_histograms(ha, hs, bin_width=102.4).first()["w1"]
    # shifted fixture moves the n_tok distribution by a known offset;
    # W1 reports it in token units
    assert w_drift > 20.0 and w_drift > 3 * w_same
    assert wasserstein_from_histograms(ha, ha, bin_width=102.4).first()["w1"] == 0.0


def test_wasserstein_by_group_magnitude(spark):
    """Per-group W1 reports drift magnitude in column units: the unshifted
    group reads ~0, the group offset by a known amount reads near that
    offset (binned resolution)."""
    from vldt_spark.checks.drift import wasserstein_by_group

    ref = spark.range(20000).select((F.col("id") % 100).cast("double").alias("v"))
    same = spark.range(20000).select(
        F.lit("same").alias("g"), (F.col("id") % 100).cast("double").alias("v")
    )
    shifted = spark.range(20000).select(
        F.lit("shifted").alias("g"),
        ((F.col("id") % 100) + 30).cast("double").alias("v"),
    )
    out = {r["g"]: r["w1"] for r in
           wasserstein_by_group(same.unionByName(shifted), "v", "g",
                                bins=20, lo=0.0, hi=130.0, ref=ref).collect()}
    assert out["same"] < 1e-6
    # +30 offset → W1 ≈ 30 (within one 6.5-unit bin of resolution)
    assert 23.0 < out["shifted"] < 37.0


def test_embedding_drift_known_values(spark):
    import math

    from vldt_spark.checks.drift import embedding_drift

    ref = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "id long, embedding array<float>"
    )  # ref centroid = (1, 0)
    cur = spark.createDataFrame(
        [
            ("aligned", [1.0, 0.0]),
            ("aligned", [1.0, 0.0]),
            ("orthogonal", [0.0, 1.0]),
            ("opposed", [-1.0, 0.0]),
            ("zero", [1.0, 1.0]),
            ("zero", [-1.0, -1.0]),  # centroid (0,0) -> cosine undefined
            ("withnull", [1.0, 0.0]),
            ("withnull", None),  # null vec drops; n counts the non-null one
        ],
        "grp string, embedding array<float>",
    )
    rows = {r["grp"]: r for r in embedding_drift(cur, ref, by="grp").collect()}
    assert rows["aligned"]["n"] == 2
    assert abs(rows["aligned"]["centroid_cosine"] - 1.0) < 1e-12
    assert rows["aligned"]["centroid_l2"] == 0.0
    assert abs(rows["orthogonal"]["centroid_cosine"]) < 1e-12
    assert abs(rows["orthogonal"]["centroid_l2"] - math.sqrt(2)) < 1e-12
    assert abs(rows["opposed"]["centroid_cosine"] + 1.0) < 1e-12
    assert rows["zero"]["centroid_cosine"] is None  # try_divide, no crash
    assert rows["withnull"]["n"] == 1
    # ungrouped form: one global row
    glob = embedding_drift(cur.where(F.col("grp") == "aligned"), ref).collect()
    assert len(glob) == 1 and abs(glob[0]["centroid_cosine"] - 1.0) < 1e-12


# -- functional dependency / MAD outliers (round 5) ----------------------

def test_functional_dependency_flags_only_conflicts(spark):
    from vldt_spark.checks.dependencies import fd_report, functional_dependency

    df = spark.createDataFrame(
        [
            ("z1", "Berlin"),
            ("z1", "Berlin"),      # re-emitted identical payload: NOT a conflict
            ("z2", "Paris"),
            ("z2", "Lyon"),        # conflict
            ("z3", None),          # NULL dependent ignored
            ("z3", "Rome"),
            ("z4", None),          # all-null group never appears
        ],
        "zip string, city string",
    )
    rows = functional_dependency(df, "zip", "city").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["zip"] == "z2" and r["n_values"] == 2 and r["n_rows"] == 2
    assert (r["min_value"], r["max_value"]) == ("Lyon", "Paris")

    rep = fd_report(df, "zip", "city").collect()[0]
    assert rep["n_groups"] == 4
    assert rep["n_violating_groups"] == 1
    assert rep["n_conflicting_rows"] == 2
    assert rep["violation_share"] == 0.25


def test_functional_dependency_composite_determinant(spark):
    from vldt_spark.checks.dependencies import functional_dependency

    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 1, "y"), ("a", 2, "x"), ("b", 1, "x")],
        "k1 string, k2 int, v string",
    )
    rows = functional_dependency(df, ["k1", "k2"], "v").collect()
    assert [(r["k1"], r["k2"]) for r in rows] == [("a", 1)]


def test_mad_outliers_robust_to_contamination(spark):
    from vldt_spark.checks.column_stats import mad_outliers, zscore_outliers

    # 100 clean values 0..99 plus one 10^9 spike: the spike inflates the
    # z-score stddev so much the z-screen misses everything, while the
    # median/MAD thresholds barely move and still flag it.
    rows = [(float(i),) for i in range(100)] + [(1e9,)]
    df = spark.createDataFrame(rows, "x double")
    mad = mad_outliers(df, ["x"], k=6.0).collect()[0]
    assert mad["n_above"] == 1 and mad["n_below"] == 0
    assert mad["median"] == 50.0
    z = zscore_outliers(df, ["x"], z=4.0).collect()[0]
    assert z["n_above"] + z["n_below"] <= 1  # stddev exploded: ≤ the spike itself


def test_mad_outliers_all_null_column(spark):
    import math

    from vldt_spark.checks.column_stats import mad_outliers

    df = spark.createDataFrame([(None,), (None,)], "x double")
    r = mad_outliers(df, ["x"]).collect()[0]
    assert math.isnan(r["median"]) and r["n_below"] == 0 and r["n_above"] == 0
