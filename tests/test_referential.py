"""Referential integrity (B6): ``invalid_fk_values`` and an engine ``ref``
field against a pure-Python set reference.

The NULL rule pinned here: a NULL foreign key is never an RI violation (a
required FK reports it as a not-null violation instead), and a NULL
dimension key matches nothing.  Results must not depend on input order,
shuffle partition count or AQE, so RI over many partitions at once equals
RI over each alone.
"""

import datetime
from contextlib import contextmanager

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vldt_spark.checks.referential import invalid_fk_values
from vldt_spark.engine import ValidationEngine
from vldt_spark.fields import Field
from vldt_spark.model import Model

VALUES = {
    "int": st.sampled_from([0, 1, -(2**31), 2**31 - 1]),
    "string": st.sampled_from(["a", "b", "", "A"]),
    "date": st.sampled_from(
        [datetime.date(2024, 1, 1), datetime.date(2024, 1, 2), datetime.date(1970, 1, 1)]
    ),
}

#: (spark.sql.shuffle.partitions, spark.sql.adaptive.enabled)
CONFIGS = [(1, "true"), (1, "false"), (7, "true"), (7, "false")]

RI = "Referential integrity violation: fk not in dim.key"


class FkInt(Model):
    rid: int
    fk: int = Field(ref=("dim", "key"))


class FkString(Model):
    rid: int
    fk: str = Field(ref=("dim", "key"))


class FkDate(Model):
    rid: int
    fk: datetime.date = Field(ref=("dim", "key"))


MODELS = {"int": FkInt, "string": FkString, "date": FkDate}


def _case(t):
    value = st.one_of(st.none(), VALUES[t])
    return st.tuples(
        st.just(t), st.lists(value, max_size=30), st.lists(value, max_size=6), st.randoms()
    )


cases = st.sampled_from(sorted(VALUES)).flatmap(_case)


def _reference(facts, dim):
    """(offending FK values, rids with an RI violation, rids with a NULL FK)."""
    keys = {d for d in dim if d is not None}
    bad = {f for f in facts if f is not None and f not in keys}
    ri = sorted(i for i, f in enumerate(facts) if f in bad)
    nulls = sorted(i for i, f in enumerate(facts) if f is None)
    return bad, ri, nulls


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
def test_ri_matches_set_reference(spark, case):
    t, facts, dim, rnd = case
    sql_type = {"int": "long", "string": "string", "date": "date"}[t]
    rows = list(enumerate(facts))
    dim_rows = [(d,) for d in dim]
    want = _reference(facts, dim)
    eng = ValidationEngine(MODELS[t])
    for parts, aqe in CONFIGS:
        rnd.shuffle(rows)
        rnd.shuffle(dim_rows)
        with _conf(spark, **{
            "spark.sql.shuffle.partitions": str(parts),
            "spark.sql.adaptive.enabled": aqe,
        }):
            fact = spark.createDataFrame(rows, f"rid long, fk {sql_type}")
            dim_df = spark.createDataFrame(dim_rows, f"key {sql_type}")
            found = invalid_fk_values(fact, "fk", dim_df, "key").collect()
            bad = {r["fk"] for r in found}
            assert len(bad) == len(found)
            res = eng.run(fact, id_cols=["rid"], dims={"dim": dim_df})
            vio = [(r["rid"], r["msg"]) for r in res.violations().collect()]
        ri = sorted(rid for rid, msg in vio if msg == RI)
        other = sorted(rid for rid, msg in vio if msg != RI)
        assert (bad, ri, other) == want, (parts, aqe)
