"""``ValidationEngine.run`` computes its uniqueness and RI side tables once.

Each side table is collected in ``run()`` and joined back as a driver-held
local relation.  These tests pin that the annotated rows equal a reference
built by hand from ``duplicate_keys`` / ``invalid_fk_values``, that each
side table costs one labelled job inside ``run()``, that the counts job of
``verdicts`` is one scan of the input with no uniqueness aggregate and no
``exists`` lambda in it, that ``summary`` after it runs no job, and that
the joins' and counts' Columns are built once per SparkSession.
"""

import datetime
import os
import tempfile
import uuid

import pytest

from vldt_spark.checks.referential import invalid_fk_values
from vldt_spark.checks.uniqueness import duplicate_keys
from vldt_spark.engine import ValidationEngine
from vldt_spark.fields import Field
from vldt_spark.flagship import TokenSequence
from vldt_spark.model import Model
from vldt_spark.sources.token_table import sources_dim, token_sequences

DUP = "Duplicate value for unique field {}"
RI = "Referential integrity violation: {} not in {}"


class Named(Model):
    rid: int
    name: str = Field(alias="user_name", unique=True)


class Pair(Model):
    rid: int
    a: int
    b: str

    unique_together = [("a", "b")]


class Fact(Model):
    rid: int = Field(unique=True)
    cat: int = Field(ref=("cats", "cat_id"))
    day: datetime.date = Field(ref=("days", "day"))


def _keys(frame, cols):
    return {tuple(r[c] for c in cols) for r in frame.collect()}


def _by_hand(ann, checks):
    """``ann``'s rows with each check's violation appended where the row's
    key tuple is in the check's offending set — the engine's contract,
    written without a join."""
    out = []
    for r in ann.collect():
        v = [tuple(x) for x in r["violations"]]
        for cols, bad, path, msg in checks:
            key = tuple(r[c] for c in cols)
            if None not in key and key in bad:
                v.append((path, msg))
        rest = tuple(r[c] for c in ann.columns if c not in ("violations", "is_valid"))
        out.append(rest + (v, not v))
    return sorted(out, key=repr)


def _engine_rows(res):
    rows = []
    for r in res.annotated.collect():
        d = r.asDict()
        v = [tuple(x) for x in d.pop("violations")]
        valid = d.pop("is_valid")
        rows.append(tuple(d.values()) + (v, valid))
    return sorted(rows, key=repr)


def _token_checks(df, dim):
    return [
        (["doc_id"], _keys(duplicate_keys(df, "doc_id"), ["doc_id"]), "doc_id",
         DUP.format("doc_id")),
        (["source"], _keys(invalid_fk_values(df, "source", dim, "source"), ["source"]),
         "source", RI.format("source", "sources.source")),
    ]


@pytest.mark.parametrize("clean", [False, True], ids=["dirty", "clean"])
def test_token_table_equals_reference(spark, clean):
    df = token_sequences(spark, 3000, seed=42, clean=clean)
    dim = sources_dim(spark)
    eng = ValidationEngine(TokenSequence)
    res = eng.run(df, id_cols=["doc_id"], dims={"sources": dim})
    checks = _token_checks(df, dim)
    want = _by_hand(eng.annotate(df), checks)
    assert _engine_rows(res) == want
    n_flagged = sum(1 for row in want if row[-1] is False)
    assert (n_flagged == 0) if clean else (n_flagged > 10)


def test_unique_raw_and_aliased_columns(spark):
    # the aliased key is absent from the raw input: its dup keys come from
    # the annotated plan
    df = spark.createDataFrame(
        [(1, "ann"), (2, "bob"), (3, "ann"), (4, None), (5, None), (6, "cy")],
        "rid long, user_name string",
    )
    eng = ValidationEngine(Named)
    ann = eng.annotate(df)
    checks = [(["name"], _keys(duplicate_keys(ann, "name"), ["name"]), "name",
               DUP.format("name"))]
    assert checks[0][1] == {("ann",)}
    assert _engine_rows(eng.run(df, id_cols=["rid"])) == _by_hand(ann, checks)

    class Raw(Model):
        rid: int
        user_name: str = Field(unique=True)

    eng = ValidationEngine(Raw)
    checks = [(["user_name"], _keys(duplicate_keys(df, "user_name"), ["user_name"]),
               "user_name", DUP.format("user_name"))]
    assert _engine_rows(eng.run(df, id_cols=["rid"])) == _by_hand(eng.annotate(df), checks)


def test_unique_together_composite_equals_reference(spark):
    df = spark.createDataFrame(
        [(1, "1", "x"), (2, "01", "x"), (3, "1", "y"), (4, "2", None), (5, "2", None)],
        "rid long, a string, b string",
    )
    eng = ValidationEngine(Pair)
    ann = eng.annotate(df)
    bad = _keys(duplicate_keys(ann.select("a", "b"), ["a", "b"]), ["a", "b"])
    assert bad == {(1, "x")}  # "1" and "01" collide after coercion
    checks = [(["a", "b"], bad, "a.b", "Duplicate value for unique fields (a, b)")]
    assert _engine_rows(eng.run(df, id_cols=["rid"])) == _by_hand(ann, checks)


class Scoped(Model):
    rid: int
    grp: str
    key: int = Field(unique=True)
    a: int
    b: str

    unique_together = [("a", "b")]


def test_unique_within_scopes_every_uniqueness_check(spark):
    df = spark.createDataFrame(
        [(1, "x", 1, 1, "p"), (2, "x", 1, 1, "p"), (3, "y", 1, 1, "p"),
         (4, None, 2, 2, "q"), (5, None, 2, 2, "q")],
        "rid long, grp string, key long, a long, b string",
    )
    eng = ValidationEngine(Scoped)
    ann = eng.annotate(df)
    # a key repeated across groups, or with a NULL group, is no duplicate
    checks = [
        (["grp", "a", "b"], {("x", 1, "p")}, "a.b",
         "Duplicate value for unique fields (a, b)"),
        (["grp", "key"], {("x", 1)}, "key", DUP.format("key")),
    ]
    got = _engine_rows(eng.run(df, id_cols=["rid"], unique_within=["grp"]))
    assert got == _by_hand(ann, checks)
    with pytest.raises(ValueError, match="unique_within"):
        eng.run(df, id_cols=["rid"], unique_within=["nope"])


def _fact_inputs(spark, rows):
    d = datetime.date
    fact = spark.createDataFrame(rows, "rid long, cat long, day date")
    cats = spark.createDataFrame([(1,), (2,)], "cat_id long")
    days = spark.createDataFrame([(d(2024, 1, 1),), (d(2024, 1, 2),)], "day date")
    return fact, {"cats": cats, "days": days}


def _fact_checks(fact, dims):
    return [
        (["rid"], _keys(duplicate_keys(fact, "rid"), ["rid"]), "rid", DUP.format("rid")),
        (["cat"], _keys(invalid_fk_values(fact, "cat", dims["cats"], "cat_id"), ["cat"]),
         "cat", RI.format("cat", "cats.cat_id")),
        (["day"], _keys(invalid_fk_values(fact, "day", dims["days"], "day"), ["day"]),
         "day", RI.format("day", "days.day")),
    ]


def test_ref_int_and_date_keys_equal_reference(spark):
    d = datetime.date
    fact, dims = _fact_inputs(spark, [
        (1, 1, d(2024, 1, 1)),
        (2, 3, d(2024, 1, 2)),
        (2, 2, d(2023, 12, 31)),
        (4, None, None),
        (5, 3, d(2023, 12, 31)),
    ])
    eng = ValidationEngine(Fact)
    checks = _fact_checks(fact, dims)
    assert [c[1] for c in checks] == [{(2,)}, {(3,)}, {(d(2023, 12, 31),)}]
    got = _engine_rows(eng.run(fact, id_cols=["rid"], dims=dims))
    assert got == _by_hand(eng.annotate(fact), checks)
    # violations keep declaration order: unique(rid), then ref(cat), ref(day)
    by_rid = {r[0]: r[-2] for r in got}
    assert [p for p, _ in by_rid[5]] == ["cat", "day"]


def test_empty_input(spark):
    fact, dims = _fact_inputs(spark, [])
    res = ValidationEngine(Fact).run(fact, id_cols=["rid"], dims=dims)
    assert res.annotated.collect() == []
    assert res.verdicts([]).collect()[0]["n_rows"] == 0
    assert res.summary().collect() == []


# -- plan shapes ------------------------------------------------------------


def _jobs_in_group(spark, fn):
    sc = spark.sparkContext
    group = f"side_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def aqe_off(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_run_is_one_job_per_side_table(spark, aqe_off):
    # AQE submits each shuffle stage as its own job; without it, one
    # collect is one job
    fact, dims = _fact_inputs(spark, [(1, 1, datetime.date(2024, 1, 1))])
    eng = ValidationEngine(Fact)
    _, jobs = _jobs_in_group(spark, lambda: eng.run(fact, id_cols=["rid"], dims=dims))
    assert len(jobs) == 3
    _, jobs = _jobs_in_group(spark, lambda: ValidationEngine(Named).run(
        spark.createDataFrame([(1, "a")], "rid long, user_name string")))
    assert len(jobs) == 1
    _, jobs = _jobs_in_group(spark, lambda: ValidationEngine(Pair).run(
        spark.createDataFrame([(1, 1, "a")], "rid long, a long, b string")))
    assert len(jobs) == 1


def test_side_jobs_are_labelled_and_caller_description_restored(spark):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    fact, dims = _fact_inputs(spark, [(1, 1, datetime.date(2024, 1, 1))])
    pair = spark.createDataFrame([(1, 1, "a")], "rid long, a long, b string")
    named = spark.createDataFrame([(1, "a")], "rid long, user_name string")
    # three side tables, then one: each is collected from a pool thread
    for model, df, kw, labels in [
        (Fact, fact, {"dims": dims}, {"unique(rid)", "ref(cat)", "ref(day)"}),
        (Pair, pair, {}, {"unique_together(a,b)"}),
        (Named, named, {}, {"unique(name)"}),
    ]:
        _, jobs = _jobs_in_group(spark, lambda: ValidationEngine(model).run(df, **kw))
        descs = {store.job(j).description().getOrElse(None) for j in jobs}
        assert descs == {f"vldt:engine.run:{lb}" for lb in labels}

        sc.setJobDescription("caller")
        try:
            ValidationEngine(model).run(df, **kw)
            assert sc.getLocalProperty("spark.job.description") == "caller"
        finally:
            sc.setJobDescription(None)


def _final_plan(df):
    root = df._jdf.queryExecution().executedPlan()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.executedPlan()
    nodes, todo = [], [root]
    while todo:
        node = todo.pop()
        nodes.append(node)
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            todo.append(node.plan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return nodes


@pytest.fixture(scope="module")
def token_parquet(spark):
    root = os.path.join(tempfile.mkdtemp(prefix="vldt_side_"), "tokens")
    token_sequences(spark, 3000, seed=7).write.parquet(root)
    clean = os.path.join(os.path.dirname(root), "clean")
    token_sequences(spark, 1000, seed=7, clean=True).write.parquet(clean)
    return root, clean


def _counts_job_plan(res, pc):
    """The final plan of the aggregate ``verdicts(pc)`` runs (the result
    holds only its output, so the same frame is executed again here)."""
    frame = res._count_frame(pc)
    frame.toArrow()
    return _final_plan(frame)


def test_verdicts_after_run_is_one_scan_without_dup_aggregate(spark, token_parquet):
    df = spark.read.parquet(token_parquet[0])
    res = ValidationEngine(TokenSequence).run(
        df, id_cols=["doc_id"], dims={"sources": sources_dim(spark)}
    )
    assert res.verdicts(["source"]).collect()
    nodes = _counts_job_plan(res, ["source"])
    scans = [n for n in nodes if n.getClass().getSimpleName() == "FileSourceScanExec"]
    assert len(scans) == 1
    aggs = [n for n in nodes if n.getClass().getSimpleName().endswith("AggregateExec")]
    keys = set()
    for agg in aggs:
        grouping = agg.groupingExpressions()
        keys |= {grouping.apply(i).name() for i in range(grouping.size())}
    # the counts' grouping sets only: no uniqueness aggregate on doc_id
    assert aggs and keys == {"source", "__path", "__msg", "spark_grouping_id"}
    joins = [n for n in nodes if n.getClass().getSimpleName().endswith("JoinExec")]
    assert len(joins) == 2  # the dirty table has dup ids and unknown sources


def test_clean_table_verdicts_plan_has_no_join(spark, token_parquet):
    df = spark.read.parquet(token_parquet[1])
    res = ValidationEngine(TokenSequence).run(
        df, id_cols=["doc_id"], dims={"sources": sources_dim(spark)}
    )
    verdicts = res.verdicts(["source"])
    assert sum(r["n_invalid"] for r in verdicts.collect()) == 0
    nodes = _counts_job_plan(res, ["source"])
    assert len([n for n in nodes if n.getClass().getSimpleName() == "FileSourceScanExec"]) == 1
    assert [n for n in nodes if n.getClass().getSimpleName().endswith("JoinExec")] == []


def test_verdicts_then_summary_is_one_job(spark, token_parquet, aqe_off):
    # clean table: no side-table joins, so every job is a scan of the input
    df = spark.read.parquet(token_parquet[1])
    res = ValidationEngine(TokenSequence).run(
        df, id_cols=["doc_id"], dims={"sources": sources_dim(spark)}
    )

    def both():
        return res.verdicts(["source"]).collect(), res.summary().collect()

    (verdicts, summary), jobs = _jobs_in_group(spark, both)
    assert len(jobs) == 1
    assert sum(r["n_rows"] for r in verdicts) == 1000 and summary == []


def test_summary_and_repeated_verdicts_run_no_job(spark, token_parquet):
    # dirty table: the counts job also broadcasts the side tables; what
    # follows it reads the counts the result holds
    df = spark.read.parquet(token_parquet[0])
    res = ValidationEngine(TokenSequence).run(
        df, id_cols=["doc_id"], dims={"sources": sources_dim(spark)}
    )
    verdicts = res.verdicts(["source"]).collect()

    def later():
        return res.summary().collect(), res.verdicts(["source"]).collect()

    (summary, again), jobs = _jobs_in_group(spark, later)
    assert jobs == []
    assert again == verdicts
    assert sum(r["n_violations"] for r in verdicts) == sum(r["n"] for r in summary) > 0


def test_summary_order_is_deterministic(spark):
    # ties at equal n break on path then msg, whatever the partitioning or
    # input order
    # 20 rows each: NULL tag (two messages on one path) and n < 1
    rows = [(i, "x" if i % 3 else None, int(i % 3 != 0)) for i in range(60)]
    rows += [(100, "dup", 1), (101, "dup", 1)]

    class Tie(Model):
        rid: int
        tag: str = Field(not_null=True, unique=True)
        n: int = Field(ge=1)

    def summary(parts, ordered):
        data = rows if ordered else sorted(rows, key=lambda r: (r[0] * 7919) % 61)
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            df = spark.createDataFrame(data, "rid long, tag string, n long").repartition(parts)
            return [tuple(r) for r in ValidationEngine(Tie).run(df).summary().collect()]
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "4")

    first = summary(1, True)
    assert [r[2] for r in first] == sorted((r[2] for r in first), reverse=True)
    assert len({r[2] for r in first}) < len(first)  # there is a tie to break
    for parts, ordered in [(7, True), (1, False), (7, False)]:
        assert summary(parts, ordered) == first


def _exists_calls(nodes):
    """The ``exists`` calls in the expressions of the plan ``nodes``."""
    found = []
    for node in nodes:
        exprs = node.expressions()
        for i in range(exprs.size()):
            text = exprs.apply(i).toString()
            if "exists(" in text:
                found.append(text)
    return found


def test_counts_job_runs_no_exists_lambda(spark, token_parquet, monkeypatch):
    # the flagship's element checks gate on array kernels, not on
    # exists(tokens, x -> ...), which Spark interprets once per element
    df = spark.read.parquet(token_parquet[0])
    dims = {"sources": sources_dim(spark)}
    res = ValidationEngine(TokenSequence).run(df, id_cols=["doc_id"], dims=dims)
    assert _exists_calls(_counts_job_plan(res, ["source"])) == []

    # the probe finds them when the guards are the old lambdas
    from pyspark.sql import functions as F

    from vldt_spark import coercion

    monkeypatch.setattr(
        coercion, "has_null_element", lambda arr, dt: F.exists(arr, lambda x: x.isNull())
    )
    old = ValidationEngine(TokenSequence).run(df, id_cols=["doc_id"], dims=dims)
    assert _exists_calls(_counts_job_plan(old, ["source"]))


def test_new_session_run_equals_and_reuses_built_columns(spark, token_parquet, monkeypatch):
    from vldt_spark import engine

    built = []
    for name in ("_count_columns", "_side_columns"):
        orig = getattr(engine, name)
        monkeypatch.setattr(
            engine, name, lambda *a, _orig=orig, _name=name: built.append(_name) or _orig(*a)
        )

    def verdicts(session):
        df = session.read.parquet(token_parquet[0])
        res = ValidationEngine(TokenSequence).run(
            df, id_cols=["doc_id"], dims={"sources": sources_dim(session)}
        )
        return [tuple(r) for r in res.verdicts(["source"]).collect()], res.summary().collect()

    want = verdicts(spark)
    other = spark.newSession()
    del built[:]
    assert verdicts(other) == want
    assert sorted(built) == ["_count_columns", "_side_columns"]  # built for the new session
    assert verdicts(other) == want
    assert sorted(built) == ["_count_columns", "_side_columns"]  # and reused
