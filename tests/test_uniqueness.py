"""Uniqueness (B5): ``duplicate_keys``, ``duplicate_rows`` and
``uniqueness_report`` against a ``collections.Counter`` reference, and the
plan shape each one runs as.

The NULL rule pinned here is embedded uniqueness, as in SQL ``UNIQUE``: a
row with any NULL key part is never a duplicate.  Results must not depend
on input order, shuffle partition count or AQE.
"""

import datetime
import os
import tempfile
from collections import Counter
from contextlib import contextmanager

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vldt_spark.checks.uniqueness import duplicate_keys, duplicate_rows, uniqueness_report
from vldt_spark.sources.token_table import token_sequences

VALUES = {
    "int": st.sampled_from([0, 1, -(2**31), 2**31 - 1]),
    "string": st.sampled_from(["a", "b", "", "A"]),
    "date": st.sampled_from(
        [datetime.date(2024, 1, 1), datetime.date(2024, 1, 2), datetime.date(1970, 1, 1)]
    ),
}

#: (spark.sql.shuffle.partitions, spark.sql.adaptive.enabled)
CONFIGS = [(1, "true"), (1, "false"), (7, "true"), (7, "false")]


def _case(types):
    key = st.tuples(*[st.one_of(st.none(), VALUES[t]) for t in types])
    return st.tuples(st.just(types), st.lists(key, max_size=30), st.randoms())


cases = st.lists(st.sampled_from(sorted(VALUES)), min_size=1, max_size=2).flatmap(_case)


def _reference(keys):
    """(dup key → count, sorted row ids of dup rows, report tuple)."""
    counts = Counter(k for k in keys if None not in k)
    dups = {k: n for k, n in counts.items() if n > 1}
    rids = sorted(i for i, k in enumerate(keys) if k in dups)
    return dups, rids, (len(keys), sum(counts.values()), len(dups), sum(dups.values()))


@contextmanager
def _conf(spark, **conf):
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@given(cases)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_uniqueness_matches_counter_reference(spark, case):
    types, keys, rnd = case
    cols = [f"k{i}" for i in range(len(types))]
    key = cols[0] if len(cols) == 1 else cols
    schema = ", ".join(["rid long"] + [f"{c} {t}" for c, t in zip(cols, types)])
    rows = [(i, *k) for i, k in enumerate(keys)]
    want = _reference(keys)
    for parts, aqe in CONFIGS:
        rnd.shuffle(rows)
        with _conf(spark, **{
            "spark.sql.shuffle.partitions": str(parts),
            "spark.sql.adaptive.enabled": aqe,
        }):
            df = spark.createDataFrame(rows, schema)
            found = duplicate_keys(df, key).collect()
            dups = {tuple(r[c] for c in cols): r["n_dups"] for r in found}
            assert len(dups) == len(found)
            rids = sorted(r["rid"] for r in duplicate_rows(df, key).collect())
            report = tuple(uniqueness_report(df, key).first())
        assert (dups, rids, report) == want, (parts, aqe)


def _plan_nodes(df):
    nodes, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        nodes.append(node)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return nodes


def _named(nodes, name):
    return [n for n in nodes if n.getClass().getSimpleName() == name]


@pytest.fixture
def aqe_off(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.mark.parametrize("key", ["doc_id", ["source", "n_tok"]])
def test_duplicate_keys_is_one_exchange_on_the_keys(spark, aqe_off, key):
    df = token_sequences(spark, 500, seed=3)
    dups = duplicate_keys(df, key)
    nodes = _plan_nodes(dups)
    exchanges = _named(nodes, "ShuffleExchangeExec")
    assert len(exchanges) == 1
    parts = exchanges[0].outputPartitioning().expressions()
    names = [parts.apply(i).name() for i in range(parts.size())]
    assert names == ([key] if isinstance(key, str) else key)
    assert "__salt" not in dups._jdf.queryExecution().executedPlan().toString()


def test_uniqueness_report_is_one_scan_and_empty_is_zero(spark, aqe_off):
    root = tempfile.mkdtemp(prefix="vldt_uniq_")
    full, empty = os.path.join(root, "full"), os.path.join(root, "empty")
    spark.createDataFrame(
        [(k,) for k in ["a", "a", "b", None, None]], "k string"
    ).write.parquet(full)
    spark.createDataFrame([], "k string").write.parquet(empty)
    for path, want in [(full, (5, 3, 1, 2)), (empty, (0, 0, 0, 0))]:
        rep = uniqueness_report(spark.read.parquet(path), "k")
        assert tuple(rep.first()) == want
        assert len(_named(_plan_nodes(rep), "FileSourceScanExec")) == 1
