"""B13 checkpoint/resume + streaming validation regression tests."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from vldt_spark.fields import Field
from vldt_spark.flagship import TokenSequence
from vldt_spark.model import Model
from vldt_spark.plans.ledger import ValidationLedger
from vldt_spark.sources.token_table import sources_dim, token_sequences


@pytest.fixture()
def ledger_root(tmp_path):
    return str(tmp_path / "ledger")


def test_ledger_resume_idempotent(spark, ledger_root):
    led = ValidationLedger(ledger_root, "source")
    toks = token_sequences(spark, 2000, seed=42)
    dims = {"sources": sources_dim(spark)}

    m1 = led.run(toks, TokenSequence, id_cols=["doc_id"], dims=dims)
    assert len(m1) >= 5  # one per source value present

    # simulate a crash after one partition's marker was lost
    os.remove(os.path.join(ledger_root, "_ledger", "part=web.json"))
    m2 = led.run(toks, TokenSequence, id_cols=["doc_id"], dims=dims)
    assert sorted(m2.keys()) == ["web"]  # ONLY the un-committed partition re-ran

    m3 = led.run(toks, TokenSequence, id_cols=["doc_id"], dims=dims)
    assert m3 == {}  # everything committed → no work

    # metrics/violations tables readable and consistent
    metrics = led.metrics(spark)
    assert metrics.count() == len(m1)
    total = sum(m["n_rows"] for m in m1.values())
    assert toks.where(F.col("source").isNotNull()).count() == total


def test_ledger_marker_written_last(spark, ledger_root):
    """The commit marker is the publish step: a partition with data files
    but no marker is treated as incomplete and re-run (write-audit-publish)."""
    led = ValidationLedger(ledger_root, "source")
    toks = token_sequences(spark, 1000, seed=7)
    led.run(toks, TokenSequence, id_cols=["doc_id"])
    assert "web" in led.completed_partitions()
    # wipe only the marker, keep parquet output → partition must re-run
    os.remove(os.path.join(ledger_root, "_ledger", "part=web.json"))
    assert "web" not in led.completed_partitions()


def test_streaming_matches_batch(spark):
    """The fused validation projection is stateless → streaming totals
    must equal the batch run on the same data."""
    from vldt_spark.streaming import replay, stream_verdicts, validated_stream
    from vldt_spark.engine import ValidationEngine

    toks = token_sequences(spark, 3000, seed=42).withColumn(
        "ts",
        F.timestamp_seconds(F.lit(1700000000) + F.pmod(F.xxhash64("doc_id"), F.lit(1800))),
    )
    out = replay(
        spark,
        [toks],
        lambda s: stream_verdicts(
            validated_stream(s, TokenSequence), ts_col="ts", window="10 minutes"
        ),
        mode="complete",
    )
    stream_totals = out.agg(
        F.sum("n_rows").alias("r"), F.sum("n_invalid").alias("i")
    ).first()

    batch = ValidationEngine(TokenSequence).annotate(toks, keep_extra=True)
    batch_invalid = batch.filter(~F.col("is_valid")).count()
    assert stream_totals["r"] == 3000
    assert stream_totals["i"] == batch_invalid


def test_quarantine_sink_routes_and_reconciles(spark, tmp_path):
    """Valid rows -> data/, invalid rows + violation lineage -> quarantine/;
    counts reconcile with the input (write-audit-publish)."""
    import json

    from vldt_spark.engine import ValidationEngine
    from vldt_spark.sources.quarantine import reconcile, write_quarantined

    toks = token_sequences(spark, 3000, seed=42)
    res = ValidationEngine(TokenSequence).run(toks, id_cols=["doc_id"])
    root = str(tmp_path / "q")
    stats = write_quarantined(res, root, partition_col="source")
    assert stats["n_valid"] > 0 and stats["n_quarantined"] > 0
    assert reconcile(spark, root, toks.count())
    # quarantined rows carry parseable violation lineage + original values
    q = spark.read.parquet(root + "/quarantine")
    row = q.first()
    v = json.loads(row["violations_json"])
    assert v and all("path" in e and "msg" in e for e in v)
    assert "tokens" in q.columns and "doc_id" in q.columns


@pytest.mark.parametrize("partition_col", [None, "source"])
def test_quarantine_counts_come_from_the_writes(spark, tmp_path, partition_col):
    """The returned counts equal the audit read-back, and the call runs no
    job of its own beyond the two writes: with AQE off, one broadcast of
    the side-table relation plus the two writes (the read-back counts took
    four more)."""
    import uuid

    from vldt_spark.engine import ValidationEngine
    from vldt_spark.sources.quarantine import write_quarantined

    toks = token_sequences(spark, 3000, seed=42)
    res = ValidationEngine(TokenSequence).run(toks, id_cols=["doc_id"])
    root = str(tmp_path / "q")
    sc = spark.sparkContext
    group = f"quarantine_{uuid.uuid4().hex[:8]}"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        stats = write_quarantined(res, root, partition_col=partition_col)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
    assert stats == {
        "n_valid": spark.read.parquet(root + "/data").count(),
        "n_quarantined": spark.read.parquet(root + "/quarantine").count(),
    }
    assert stats["n_valid"] + stats["n_quarantined"] == 3000


def test_streaming_drift_monitor(spark):
    """Per-window streaming PSI: a clean-day window scores low, a shifted-
    distribution day scores high — matching the batch PSI semantics."""
    from vldt_spark.checks.drift import histogram, psi
    from vldt_spark.streaming import replay, stream_psi

    # day 1: values uniform 0..99 (same as reference); day 2: shifted +50
    day1 = spark.range(5000).select(
        F.lit("2026-01-01 10:00:00").cast("timestamp").alias("ts"),
        (F.col("id") % 100).cast("double").alias("v"),
    )
    day2 = spark.range(5000).select(
        F.lit("2026-01-02 10:00:00").cast("timestamp").alias("ts"),
        ((F.col("id") % 100) * 0.5 + 50).cast("double").alias("v"),
    )
    ref = spark.range(20000).select((F.col("id") % 100).cast("double").alias("v"))
    ref_hist = histogram(ref, "v", bins=10, lo=0.0, hi=100.0)

    # append mode: windows emit once the watermark passes their end —
    # advance it with two later sentinel batches; both days stay one batch
    sentinels = [
        spark.range(1).select(
            F.lit(day + " 10:00:00").cast("timestamp").alias("ts"),
            F.lit(1.0).alias("v"),
        )
        for day in ["2026-01-05", "2026-01-06"]
    ]
    out = replay(
        spark,
        [day1.unionByName(day2), *sentinels],
        lambda s: stream_psi(s, ref_hist, "v", "ts", bins=10, lo=0.0, hi=100.0, window="1 day"),
        mode="append",
    )
    rows = {str(r["window_start"])[:10]: r["psi"] for r in out.collect()}
    assert rows["2026-01-01"] < 1e-6  # identical distribution
    assert rows["2026-01-02"] > 0.1  # shifted -> drifted

    # per-window streaming PSI == the batch psi() on the same slice
    batch_psi = psi(ref_hist, histogram(day2, "v", bins=10, lo=0.0, hi=100.0))
    assert abs(rows["2026-01-02"] - round(batch_psi, 6)) < 1e-4


def test_stream_job_resumes_exactly_once(spark, tmp_path):
    """Kill-and-resubmit semantics: a second --once run with the same
    checkpoint processes ONLY files that arrived after the first run —
    no double-counting in either sink."""
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.submit_stream import main as stream_main

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    token_sequences(spark, 2000, seed=42).coalesce(1).write.parquet(src)
    assert stream_main(["--input", src, "--output", out, "--once"]) == 0
    v1 = spark.read.parquet(out + "/verdicts")
    total1 = v1.agg(F.sum("n_rows")).first()[0]
    assert total1 == 2000

    # new data arrives; resubmit with the same checkpoint
    token_sequences(spark, 500, seed=7).coalesce(1).write.mode("append").parquet(src)
    assert stream_main(["--input", src, "--output", out, "--once"]) == 0
    v2 = spark.read.parquet(out + "/verdicts")
    assert v2.agg(F.sum("n_rows")).first()[0] == 2500  # 2000 + 500, not 4500
    assert v2.select("batch_id").distinct().count() == 2


def test_build_corpus_pipeline(spark, tmp_path):
    """End-to-end corpus build: validate -> dedup -> quality -> domain cap;
    funnel counts are monotone and the cap binds."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.build_corpus import main as corpus_main

    src = str(tmp_path / "docs")
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base.write.parquet(src)
    out = str(tmp_path / "corpus")
    assert corpus_main([
        "--input", src, "--output", out,
        "--quality", "0.2", "--cap-per-source", "3", "--jaccard", "0.5",
    ]) == 0
    rep = json.load(open(out + "/funnel.json"))
    assert rep["n_input"] == rep["n_valid"] + rep["n_quarantined"]
    assert (rep["n_valid"] >= rep["n_after_exact_dedup"]
            >= rep["n_after_near_dedup"] >= rep["n_after_quality"]
            >= rep["n_final"])
    # the per-source cap binds at 3
    per_src = spark.read.parquet(out + "/corpus").groupBy("source").count().collect()
    assert per_src and all(r["count"] <= 3 for r in per_src)
    # every funnel stage is materialized (one pass per stage, never a
    # recompute of the dedup chain for a count) and matches the report
    import os as _os

    for stage, key in [("exact", "n_after_exact_dedup"),
                       ("near", "n_after_near_dedup"),
                       ("quality", "n_after_quality")]:
        p = _os.path.join(out, "stages", stage)
        assert _os.path.isdir(p), p
        assert spark.read.parquet(p).count() == rep[key]
    # every surviving row got a split; packing layout covers the train split
    corpus = spark.read.parquet(out + "/corpus")
    assert corpus.where(F.col("split").isNull()).count() == 0
    assert rep["n_final"] == sum(rep["split_counts"].values())
    n_train = rep["split_counts"].get("train", 0)
    layout = spark.read.parquet(out + "/stages/layout")
    assert layout.count() == n_train  # one placement row per train doc
    assert rep["n_train_packs"] >= 1


def test_build_corpus_decontaminates_against_benchmark(spark, tmp_path):
    """--benchmark drops every doc sharing a 13-gram with the eval set —
    including the benchmark docs themselves when they appear verbatim."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.build_corpus import main as corpus_main

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs")
    base.write.parquet(src)
    bench_dir = str(tmp_path / "bench")
    base.where(F.col("doc_id") % 41 == 0).select("text").write.parquet(bench_dir)
    out = str(tmp_path / "corpus_dec")
    assert corpus_main([
        "--input", src, "--output", out, "--quality", "0.0",
        "--cap-per-source", "10000", "--benchmark", bench_dir,
        "--pack-tokens", "0",
    ]) == 0
    rep = json.load(open(out + "/funnel.json"))
    assert rep["n_after_decontamination"] < rep["n_after_quality"]
    assert rep["n_train_packs"] is None  # --pack-tokens 0 skips the stage
    # no surviving doc is one of the benchmark ids
    survivors = {r["doc_id"] for r in spark.read.parquet(out + "/corpus").collect()}
    assert not any(d % 41 == 0 for d in survivors)


def test_submit_validation_job_resumes(spark, tmp_path, capsys):
    """Job-level resume: a second submission with the same ledger output
    skips every completed partition."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.submit_validation import main as validate_main

    out = str(tmp_path / "run")
    assert validate_main(["--synthetic", "5000", "--output", out]) == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["n_rows"] == 5000 and rep1["partitions_run"]

    assert validate_main(["--synthetic", "5000", "--output", out]) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["partitions_run"] == []  # everything committed -> no work
    assert sorted(rep2["partitions_skipped"]) == sorted(rep1["partitions_run"])


def test_streaming_psi_by_group(spark):
    """Per-(window, group) streaming PSI: within one day-window, the clean
    group scores ~0 and the shifted group high — matching the batch
    psi_by_group semantics with the group key carried through both
    stateful aggregation stages."""
    from vldt_spark.checks.drift import histogram, psi
    from vldt_spark.streaming import replay
    from vldt_spark.streaming.drift_stream import stream_psi_by_group

    clean = spark.range(4000).select(
        F.lit("2026-02-01 10:00:00").cast("timestamp").alias("ts"),
        F.lit("clean").alias("grp"),
        (F.col("id") % 100).cast("double").alias("v"),
    )
    shifted = spark.range(4000).select(
        F.lit("2026-02-01 11:00:00").cast("timestamp").alias("ts"),
        F.lit("shifted").alias("grp"),
        ((F.col("id") % 100) * 0.5 + 50).cast("double").alias("v"),
    )
    sentinel = spark.range(1).select(
        F.lit("2026-02-05 10:00:00").cast("timestamp").alias("ts"),
        F.lit("sentinel").alias("grp"),
        F.lit(1.0).alias("v"),
    )

    ref = spark.range(20000).select((F.col("id") % 100).cast("double").alias("v"))
    ref_hist = histogram(ref, "v", bins=10, lo=0.0, hi=100.0)

    out = replay(
        spark,
        [clean.unionByName(shifted), sentinel],
        lambda s: stream_psi_by_group(
            s, ref_hist, "v", "ts", "grp",
            bins=10, lo=0.0, hi=100.0, window="1 day", watermark="1 hour",
        ),
        mode="append",
    )
    rows = {r["grp"]: r for r in out.collect()}
    assert set(rows) == {"clean", "shifted"}  # sentinel window never closes
    assert rows["clean"]["psi"] < 1e-6
    assert rows["shifted"]["psi"] > 0.1
    # equals the batch PSI on the same slice
    batch = psi(ref_hist, histogram(shifted, "v", bins=10, lo=0.0, hi=100.0))
    assert abs(rows["shifted"]["psi"] - round(batch, 6)) < 1e-4


class _RowStr(Model):
    rid: int
    key: int = Field(unique=True)
    grp: str
    v: float = Field(ge=0.0)


class _RowInt(Model):
    rid: int
    key: int = Field(unique=True)
    grp: int
    v: float = Field(ge=0.0)


def _ledger_rows(spark, grp_type):
    """``key`` repeats within a partition (i, i + 39) and across partitions
    (i, i + 13); ``v`` breaks ``ge`` on every 11th row; rid 60 has a NULL
    partition value and is never validated."""
    conv = str if grp_type == "string" else int
    rows = [
        (i, i % 13, conv(i % 3), float(i % 7) - (1.0 if i % 11 == 0 else 0.0))
        for i in range(60)
    ] + [(60, 0, None, 1.0)]
    return spark.createDataFrame(rows, f"rid long, key long, grp {grp_type}, v double")


def _per_partition_reference(df, model):
    """What one ``engine.run`` per partition value gives: {value: verdict
    tuple} and the set of (rid, path, msg) violation rows."""
    from vldt_spark.engine import ValidationEngine

    eng = ValidationEngine(model)
    verdicts, violations = {}, set()
    for (value,) in df.select("grp").where(F.col("grp").isNotNull()).distinct().collect():
        res = eng.run(df.where(F.col("grp") == value), id_cols=["rid"])
        v = res.verdicts(["grp"]).first()
        verdicts[str(value)] = (v["n_rows"], v["n_invalid"], v["n_violations"], v["passed"])
        violations |= {tuple(r) for r in res.violations().collect()}
    return verdicts, violations


def _ledger_state(spark, led):
    metrics = {
        str(r["grp"]): (r["n_rows"], r["n_invalid"], r["n_violations"], r["passed"])
        for r in led.metrics(spark).collect()
    }
    return metrics, {tuple(r) for r in led.violations(spark).collect()}


@pytest.mark.parametrize("parts", [1, 7])
@pytest.mark.parametrize("grp_type", ["string", "int"])
def test_ledger_equals_per_partition_runs(spark, tmp_path, grp_type, parts):
    """One scoped pass gives the metrics and violations of one engine run
    per partition: a key repeated across partitions is not a duplicate."""
    model = _RowStr if grp_type == "string" else _RowInt
    df = _ledger_rows(spark, grp_type)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        want_verdicts, want_violations = _per_partition_reference(df, model)
        led = ValidationLedger(str(tmp_path / "ledger"), "grp")
        out = led.run(df, model, id_cols=["rid"])
        metrics, violations = _ledger_state(spark, led)
        assert led.run(df, model, id_cols=["rid"]) == {}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert sorted(want_verdicts) == ["0", "1", "2"]
    got = {k: (m["n_rows"], m["n_invalid"], m["n_violations"], m["passed"])
           for k, m in out.items()}
    assert got == want_verdicts
    assert metrics == want_verdicts
    assert violations == want_violations
    assert {p for _, p, _ in violations} == {"key", "v"}


def _file_times(root, skip):
    """{path: mtime_ns} of every file under ``root``'s part dirs but ``skip``."""
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for table in ("metrics", "violations")
        for part in os.listdir(os.path.join(root, table))
        if part.startswith("part=") and part != skip
        for d in [os.path.join(root, table, part)]
        for f in os.listdir(d)
    }


def _killed(self, value, metrics):
    """Stands in for ``ValidationLedger._commit``: the job dies after both
    parquet writes landed, before its first marker."""
    raise RuntimeError("killed before commit")


def test_ledger_crash_before_markers_then_resume(spark, tmp_path, monkeypatch):
    """A run killed after both parquet writes but before any marker leaves
    nothing committed; the re-run commits every partition, and its metrics
    equal an uninterrupted run's, one row per partition."""
    df = _ledger_rows(spark, "string")
    clean = ValidationLedger(str(tmp_path / "clean"), "grp")
    want = clean.run(df, _RowStr, id_cols=["rid"])

    root = str(tmp_path / "crashed")
    led = ValidationLedger(root, "grp")
    with monkeypatch.context() as m:
        m.setattr(ValidationLedger, "_commit", _killed)
        with pytest.raises(RuntimeError):
            led.run(df, _RowStr, id_cols=["rid"])
    assert led.completed_partitions() == set()
    assert os.listdir(os.path.join(root, "metrics")) and os.listdir(
        os.path.join(root, "violations")
    )

    got = led.run(df, _RowStr, id_cols=["rid"])
    assert led.completed_partitions() == set(want) == {"0", "1", "2"}
    key = lambda out: {k: (v["n_rows"], v["n_invalid"], v["n_violations"], v["passed"])
                       for k, v in out.items()}
    assert key(got) == key(want)
    assert _ledger_state(spark, led) == _ledger_state(spark, clean)
    assert led.metrics(spark).count() == 3


def test_ledger_rerun_replaces_uncommitted_violations(spark, tmp_path, monkeypatch):
    """A partition that has no violations on the re-run must not keep the
    violation rows an interrupted run wrote for it."""
    from vldt_spark.engine import ValidationEngine

    df = _ledger_rows(spark, "string")
    led = ValidationLedger(str(tmp_path / "ledger"), "grp")
    with monkeypatch.context() as m:
        m.setattr(ValidationLedger, "_commit", _killed)
        with pytest.raises(RuntimeError):
            led.run(df, _RowStr, id_cols=["rid"])
    assert led.violations(spark).count() > 0

    res = ValidationEngine(_RowStr).run(df, id_cols=["rid"], unique_within=["grp"])
    out = led.run(res.valid, _RowStr, id_cols=["rid"])
    assert sorted(out) == ["0", "1", "2"]
    assert all(m["n_violations"] == 0 for m in out.values())
    assert led.violations(spark).count() == 0


def test_ledger_rerun_leaves_committed_partitions_untouched(spark, tmp_path):
    """Re-running one partition rewrites only its own files: every other
    partition's metrics and violations files keep their names and mtimes."""
    df = _ledger_rows(spark, "string")
    root = str(tmp_path / "ledger")
    led = ValidationLedger(root, "grp")
    led.run(df, _RowStr, id_cols=["rid"])
    before = _file_times(root, skip="part=1")
    assert len(before) >= 4
    os.remove(os.path.join(root, "_ledger", "part=1.json"))
    assert sorted(led.run(df, _RowStr, id_cols=["rid"])) == ["1"]
    assert _file_times(root, skip="part=1") == before
    assert led.metrics(spark).count() == 3


def test_stream_centroid_drift_matches_batch(spark):
    """Per-window streaming centroid drift: an aligned day matches the
    reference (cosine 1, L2 0), a rotated day reads orthogonal — and both
    windows' numbers equal the batch embedding_drift on the same slice."""
    from vldt_spark.checks.drift import embedding_drift
    from vldt_spark.streaming import replay
    from vldt_spark.streaming.drift_stream import stream_centroid_drift

    day1 = spark.range(40).select(
        F.lit("2026-01-01 10:00:00").cast("timestamp").alias("ts"),
        F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0)).cast("array<float>").alias("emb"),
    )
    day2 = spark.range(40).select(
        F.lit("2026-01-02 10:00:00").cast("timestamp").alias("ts"),
        F.array(F.lit(0.0), F.lit(2.0), F.lit(0.0)).cast("array<float>").alias("emb"),
    )
    ref = spark.range(10).select(
        F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0)).cast("array<float>").alias("emb")
    )
    sentinel = spark.range(1).select(
        F.lit("2026-01-06 10:00:00").cast("timestamp").alias("ts"),
        F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0)).cast("array<float>").alias("emb"),
    )
    out = replay(
        spark,
        [day1.unionByName(day2), sentinel],
        lambda s: stream_centroid_drift(s, ref, "emb", "ts", window="1 day"),
        mode="append",
    )
    rows = {str(r["window_start"])[:10]: r for r in out.collect()}
    assert rows["2026-01-01"]["n_rows"] == 40
    assert abs(rows["2026-01-01"]["centroid_cosine"] - 1.0) < 1e-9
    assert rows["2026-01-01"]["centroid_l2"] < 1e-9
    assert abs(rows["2026-01-02"]["centroid_cosine"]) < 1e-9
    # batch twin agrees on the drifted slice: centroid (0,2,0) vs ref (1,0,0)
    b = embedding_drift(day2.select("emb"), ref, vec_col="emb").first()
    assert abs(rows["2026-01-02"]["centroid_l2"] - b["centroid_l2"]) < 1e-9
    assert abs(b["centroid_l2"] - (5.0 ** 0.5)) < 1e-6


def test_stream_centroid_cosine_matches_batch_under_null_elements(spark):
    """With null vector ELEMENTS the per-position counts differ, so a
    sum-based cosine would diverge from the batch check; the mean-based
    cosine agrees exactly."""
    import math

    from vldt_spark.checks.drift import embedding_drift
    from vldt_spark.streaming import replay
    from vldt_spark.streaming.drift_stream import stream_centroid_drift

    # position 0 present in both rows, position 1 only in the second:
    # mean = (2.0, 4.0); sum = (4.0, 4.0) — different directions
    day = spark.createDataFrame(
        [("2026-01-01 10:00:00", [1.0, None]), ("2026-01-01 11:00:00", [3.0, 4.0])],
        "ts string, emb array<float>",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "emb")
    ref = spark.createDataFrame([([1.0, 1.0],)], "emb array<float>")
    sentinel = spark.createDataFrame(
        [("2026-02-01 10:00:00", [1.0, 1.0])], "ts string, emb array<float>"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "emb")
    out = replay(
        spark,
        [day, sentinel],
        lambda s: stream_centroid_drift(s, ref, "emb", "ts", window="1 day"),
        mode="append",
    )
    got = [r for r in out.collect() if str(r["window_start"])[:7] == "2026-01"][0]
    b = embedding_drift(day.select("emb"), ref, vec_col="emb").first()
    # mean (2,4) vs ref (1,1): cos = 6/(sqrt(20)*sqrt(2)); sum-based would
    # give 8/(sqrt(32)*sqrt(2)) = 1.0 — the bug this test pins
    expected = 6.0 / (math.sqrt(20.0) * math.sqrt(2.0))
    assert abs(got["centroid_cosine"] - expected) < 1e-6
    assert abs(got["centroid_cosine"] - b["centroid_cosine"]) < 1e-6


def test_stream_centroid_all_null_positions_match_batch(spark):
    """The two all-null-position corners: (a) a position null in EVERY
    reference vector still counts the window mean² in the cosine
    denominator (batch: c·c never touches r); (b) a position null in
    every WINDOW vector drops out of L2 (batch: pow(c-r,2) is null and
    the sum skips it). Both must equal the batch numbers exactly."""
    from vldt_spark.checks.drift import embedding_drift
    from vldt_spark.streaming import replay
    from vldt_spark.streaming.drift_stream import stream_centroid_drift

    def frame(ts, vectors):
        return spark.createDataFrame(
            [(ts, v) for v in vectors], "ts string, emb array<float>"
        ).select(F.col("ts").cast("timestamp").alias("ts"), "emb")

    def run_pair(cur_rows, ref_rows):
        cur = frame("2026-01-01 10:00:00", cur_rows)
        ref = spark.createDataFrame([(v,) for v in ref_rows], "emb array<float>")
        out = replay(
            spark,
            [cur, frame("2026-03-01 10:00:00", ref_rows[:1])],
            lambda s: stream_centroid_drift(s, ref, "emb", "ts", window="1 day"),
            mode="append",
        )
        got = [r for r in out.collect() if str(r["window_start"])[:7] == "2026-01"][0]
        b = embedding_drift(cur.select("emb"), ref, vec_col="emb").first()
        return got, b

    # (a) trailing all-null ref position: batch cosine 3/(5*1) = 0.6
    got, b = run_pair([[3.0, 4.0]], [[1.0, None]])
    assert abs(b["centroid_cosine"] - 0.6) < 1e-9
    assert abs(got["centroid_cosine"] - b["centroid_cosine"]) < 1e-9
    assert abs(got["centroid_l2"] - b["centroid_l2"]) < 1e-9

    # (b) window all-null at a ref-non-null position: batch L2 skips it
    got2, b2 = run_pair([[3.0, None]], [[1.0, 1.0]])
    assert abs(b2["centroid_l2"] - 2.0) < 1e-9  # only |3-1| contributes
    assert abs(got2["centroid_l2"] - b2["centroid_l2"]) < 1e-9
    assert abs(got2["centroid_cosine"] - b2["centroid_cosine"]) < 1e-9
