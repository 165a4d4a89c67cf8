"""One definition per check.

* Field constraints: ``coercion.field_constraints`` is the one table the
  fused pass and ``Suite.from_model`` read, so a derived expectation
  counts exactly the rows the engine flags with the same entry.
* Monitor families: each family's ``cells`` spec drives its batch report,
  its streaming twin and its Suite guard, so a closed window equals the
  batch report over the same rows, NULL rows and shuffles included.
* Architecture: no module but ``fields.py`` and the table reads a
  Field's declared constraint attributes.
"""

import ast
import datetime as dt
import pathlib
import random

import pytest
from pyspark.sql import functions as F

from vldt_spark.checks.classifier_eval import confusion_report
from vldt_spark.checks.suite import Suite, expect
from vldt_spark.engine import ValidationEngine
from vldt_spark.fields import Field
from vldt_spark.functions.text import c4_report, pii_report
from vldt_spark.model import Model
from vldt_spark.rounding import round6
from vldt_spark.streaming import replay
from vldt_spark.streaming.c4_stream import stream_c4_windows
from vldt_spark.streaming.clf_stream import stream_confusion_windows
from vldt_spark.streaming.pii_stream import stream_pii_windows
from vldt_spark.streaming.seq_stream import stream_degenerate_share


class Divergent(Model):
    rid: int
    x: int = Field(ge=0, gt=5)
    d: dict[str, int] = Field(min_size=1, max_size=2)
    s: str | None = Field(min_size=2, max_size=3, regex=r"^[a-z]+$", isin=["ab", "abc", "x"])


_DIVERGENT_ROWS = [
    (1, 7, {"a": 1}, "ab"),
    (2, 3, {}, "abcd"),                    # x > 5 fails; d too small; s too long
    (3, 5, {"a": 1, "b": 2, "c": 3}, "x"), # x > 5 fails; d too big; s too short
    (4, -1, {"a": 1, "b": 2}, "a1"),       # x fails both bounds; s off pattern and set
    (5, None, None, None),                 # required-null x and d; s optional
    (6, 9, {"a": None}, "abc"),
]
_DIVERGENT_SCHEMA = "rid long, x long, d map<string,bigint>, s string"


def _engine_rows(res, cond):
    """The number of distinct rows with a violation matching ``cond``."""
    return res.violations().where(cond).select(*res.id_cols).distinct().count()


def test_both_bounds_and_map_sizes_flag_the_same_rows(spark):
    """``Field(ge=0, gt=5)`` keeps both bounds, and min_size/max_size on
    a dict are enforced by the engine: the engine and the derived Suite
    flag the same rows."""
    df = spark.createDataFrame(_DIVERGENT_ROWS, _DIVERGENT_SCHEMA)
    res = ValidationEngine(Divergent).run(df, id_cols=["rid"])
    got = {}
    for r in res.violations().collect():
        got.setdefault((r["path"], r["msg"]), set()).add(r["rid"])
    assert got[("x", "Value out of range: expected > 5")] == {2, 3, 4}
    assert got[("x", "Value out of range: expected >= 0")] == {4}
    assert got[("d", "Expected at least 1 elements")] == {2}
    assert got[("d", "Expected at most 2 elements")] == {3}

    rep = Suite.from_model(Divergent).run(df).collect()
    metrics = {}
    for r in rep:
        metrics.setdefault((r["check"], r["column"]), []).append(r["metric"])
    assert sorted(metrics[("range", "x")]) == [1.0, 3.0]
    assert sorted(metrics[("size_between", "d")]) == [1.0, 1.0]
    for column in ("x", "d", "s"):
        engine = sorted(float(len(ids)) for (p, _), ids in got.items() if p == column)
        suite = sorted(m for (_, c), ms in metrics.items() if c == column for m in ms)
        assert suite == engine, column


def _assert_from_model_parity(spark, model, df, dims=None):
    """Every expectation ``Suite.from_model(model)`` emits has the metric
    the engine's count of flagged rows gives for the same table entry."""
    from vldt_spark.coercion import field_constraints

    df = df.withColumn("__rid", F.monotonically_increasing_id())
    df = spark.createDataFrame(df.collect(), df.schema)
    res = ValidationEngine(model).run(df, id_cols=["__rid"], dims=dims, keep_extra=True)
    suite = Suite.from_model(model, dims=dims)
    rep = suite.run(df).collect()
    # row-local rows come first, in declaration order, then the others
    row_local = [e for e in suite.expectations if e.kind not in ("unique", "ref")]
    ordered = row_local + [e for e in suite.expectations if e.kind in ("unique", "ref")]
    assert [(r["check"], r["column"]) for r in rep] == [(e.kind, e.column) for e in ordered]
    entries = [
        (spec.name, c)
        for spec in model.__vldt_compile__().fields
        for c in field_constraints(spec.field, spec.node, spec.dtype)
        if c.kind is not None
    ]
    path, msg = F.col("path"), F.col("msg")
    for e, r in zip(ordered, rep):
        if e.kind == "element_range":
            conds = [path.startswith(e.column + ".") & msg.startswith("Value out of range")]
        elif e.kind == "unique":
            conds = [(path == e.column) & (msg == f"Duplicate value for unique field {e.column}")]
        elif e.kind == "ref":
            conds = [(path == e.column) & msg.startswith("Referential integrity violation")]
        else:
            same = [c for name, c in entries if getattr(expect, c.kind)(name, **c.params) == e]
            assert same, e
            conds = [(path == e.column) & (msg == c.msg) for c in same]
        counts = {_engine_rows(res, c) for c in conds}
        assert counts == {int(r["metric"])}, (e.kind, e.column, e.params)
    return rep


def test_from_model_metrics_equal_engine_counts_on_token_table(spark):
    from vldt_spark.flagship import TokenSequence
    from vldt_spark.sources.token_table import sources_dim, token_sequences

    rep = _assert_from_model_parity(
        spark, TokenSequence, token_sequences(spark, 2000), {"sources": sources_dim(spark)}
    )
    # the dirty fixture trips more than one kind
    assert sum(r["metric"] > 0 for r in rep) >= 3


def test_from_model_metrics_equal_engine_counts_on_divergent_model(spark):
    df = spark.createDataFrame(_DIVERGENT_ROWS, _DIVERGENT_SCHEMA)
    rep = _assert_from_model_parity(spark, Divergent, df)
    assert sum(r["metric"] > 0 for r in rep) >= 8


# -- batch vs stream, one test over the four monitor families --------------


def _pii(spark, df):
    b = pii_report(df).first().asDict()
    b["pii_frac"] = Suite([expect.pii_frac_below("text", 1.0)]).run(df).first()["metric"]
    return b


def _c4(spark, df):
    b = c4_report(df).first().asDict()
    b["suite"] = Suite([expect.c4_pass_frac_above("text", 0.0)]).run(df).first()["metric"]
    return b


def _c4_stream_as_batch(w):
    n = w["n_docs"]
    return {
        "n_docs": n,
        "lorem_fail_frac": round6(w["n_lorem"] / n),
        "brace_fail_frac": round6(w["n_brace"] / n),
        "sentences_fail_frac": round6(w["n_few_sentences"] / n),
        "pass_frac": w["pass_frac"],
        "mean_kept_frac": w["mean_kept_frac"],
        "suite": w["pass_frac"],
    }


def _confusion(spark, df):
    return confusion_report(df, "score", "label", threshold=0.5).first().asDict()


def _degenerate(spark, df):
    rep = Suite([expect.degenerate_sequence_share_below("tokens", 1.1, max_run=3)]).run(df)
    return {"n_seqs": df.count(), "degenerate_share": rep.first()["metric"]}


_GOOD = "A good first sentence with words here. Another good sentence with words here. A third good sentence with words here."
_DAY = dt.datetime(2024, 1, 1, 6)
_FAMILIES = {
    "pii": (
        "ts timestamp, text string",
        [(_DAY, t) for t in ["mail a@b.co", "ip 10.0.0.1", "call 555-123-4567", "clean", None, "x@y.io 1.2.3.4", None]],
        lambda s: stream_pii_windows(s, "ts", "text"),
        _pii,
        lambda w: {k: w[k] for k in ("n_docs", "n_email", "n_ip", "n_phone", "pii_frac")},
    ),
    "c4": (
        "ts timestamp, text string",
        [(_DAY, t) for t in [_GOOD, "lorem ipsum " + _GOOD, "{ " + _GOOD, "short line", None, _GOOD + "\nno end"]],
        lambda s: stream_c4_windows(s, "ts", "text"),
        _c4,
        _c4_stream_as_batch,
    ),
    "confusion": (
        "ts timestamp, score double, label boolean",
        [(_DAY, s, y) for s, y in [(0.9, True), (0.8, False), (0.2, True), (0.1, False),
                                   (None, True), (0.7, None), (0.6, True), (0.4, False)]],
        lambda s: stream_confusion_windows(s, "ts", "score", "label"),
        _confusion,
        lambda w: {k: w[k] for k in ("tp", "fp", "fn", "tn", "precision", "recall", "f1", "accuracy")},
    ),
    "degenerate": (
        "ts timestamp, tokens array<int>",
        [(_DAY, t) for t in [[1, 2, 3, 4], [7, 7, 7], [], None, [1, None, 1], [5, 5, 5, 5], [1, 2, 1, 2]]],
        lambda s: stream_degenerate_share(s, "ts", "tokens", max_run=3),
        _degenerate,
        lambda w: {"n_seqs": w["n_seqs"], "degenerate_share": w["degenerate_share"]},
    ),
}


@pytest.mark.parametrize("partitions", [1, 7])
@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_stream_window_equals_batch_report(spark, family, partitions):
    """One closed window holds every row, NULL rows included, written in
    shuffled order; its row equals the batch report (and Suite guard)
    over the same rows, at 1 and 7 shuffle partitions."""
    schema, rows, stream_fn, batch_fn, from_window = _FAMILIES[family]
    rows = list(rows)
    random.Random(partitions).shuffle(rows)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        half = len(rows) // 2
        sentinel = tuple([dt.datetime(2024, 3, 1)] + [None] * (len(rows[0]) - 1))
        frames = [
            spark.createDataFrame(batch, schema)
            for batch in [rows[:half], rows[half:], [sentinel]]
        ]
        windows = replay(spark, frames, stream_fn, mode="append").collect()
        assert len(windows) == 1  # the sentinel's window never closes
        batch = batch_fn(spark, spark.createDataFrame(rows, schema).repartition(partitions))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    streamed = from_window(windows[0].asDict())
    assert streamed == {k: batch[k] for k in streamed}


# -- architecture ------------------------------------------------------------

_CONSTRAINT_ATTRS = {"ge", "gt", "le", "lt", "regex", "isin", "min_size", "max_size"}


def _constraint_reads(tree):
    """(line, text) of every read of a constraint attribute in ``tree``:
    ``x.ge`` that is not a method call, or ``getattr(x, "ge")``."""
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    for n in ast.walk(tree):
        if isinstance(n, ast.Attribute) and n.attr in _CONSTRAINT_ATTRS and id(n) not in called:
            yield n.lineno, ast.unparse(n)
        elif (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == "getattr"
            and len(n.args) > 1
            and isinstance(n.args[1], ast.Constant)
            and n.args[1].value in _CONSTRAINT_ATTRS
        ):
            yield n.lineno, ast.unparse(n)


def test_only_the_constraint_table_reads_field_constraints():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "vldt_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "fields.py":
            continue
        tree = ast.parse(path.read_text())
        if path.name == "coercion.py" and path.parent == pkg:
            # the table itself: reads allowed inside field_constraints only
            (table,) = [
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "field_constraints"
            ]
            assert list(_constraint_reads(table))
            tree = ast.Module(body=[n for n in tree.body if n is not table], type_ignores=[])
        offenders += [(str(path.relative_to(pkg)), *r) for r in _constraint_reads(tree)]
    assert offenders == []


def _psi(spark, stream):
    from vldt_spark.streaming.drift_stream import stream_psi

    ref = spark.createDataFrame([(b, 10) for b in range(4)], "bin int, n long")
    return stream_psi(stream, ref, "v", "ts", bins=4, lo=0.0, hi=4.0, window="1 day", watermark="1 hour")


def _centroid(spark, stream):
    from vldt_spark.streaming.drift_stream import stream_centroid_drift

    ref = spark.createDataFrame([([1.0, 2.0],), ([2.0, 1.0],)], "v array<double>")
    return stream_centroid_drift(stream, ref, "v", "ts", window="1 day", watermark="1 hour")


@pytest.mark.parametrize(
    "monitor, schema, values",
    [
        (_psi, "ts timestamp, v double", [float(i % 4) for i in range(6)]),
        (_centroid, "ts timestamp, v array<double>", [[1.0, 2.0], [3.0, None], [0.5, 0.5]]),
    ],
    ids=["psi", "centroid"],
)
def test_drift_streams_null_values_advance_the_watermark(spark, monitor, schema, values):
    """A NULL value counts nowhere but still advances event time: the
    day window closes when the only later row has a NULL value, and its
    row equals the window's without the NULL rows."""
    day = [(_DAY, v) for v in values]
    got = {}
    for name, rows in (("with_nulls", day + [(_DAY, None)]), ("without", day)):
        frames = [
            spark.createDataFrame(rows, schema),
            spark.createDataFrame([(dt.datetime(2024, 3, 1), None)], schema),
        ]
        out = replay(spark, frames, lambda s: monitor(spark, s), mode="append")
        got[name] = [r.asDict() for r in out.collect()]
    assert len(got["without"]) == 1
    assert got["with_nulls"] == got["without"]
