"""Driver-built frames are JVM local relations.

Every frame the library builds from driver-side rows goes through
``frames.local_frame``.  Each site's plan must be a ``LocalRelation`` with
no Python-RDD leaf, and its rows and schema must equal those of the Python
``createDataFrame`` it replaced, which the reference below rebuilds by
swapping that construction back in.
"""

from collections.abc import Mapping

import pandas as pd
import pytest

from vldt_spark.checks import schema_conf, schema_drift, suggest, suite
from vldt_spark.checks.suite import Suite, expect
from vldt_spark.fields import Field
from vldt_spark.frames import local_frame
from vldt_spark.functions import lm, sampling, weburl
from vldt_spark.model import Model
from vldt_spark.sources import token_table


def python_frame(spark, rows, schema):
    """The construction ``local_frame`` replaced: a list (or, for columns,
    a pandas frame) handed to ``createDataFrame``."""
    if isinstance(rows, Mapping):
        return spark.createDataFrame(pd.DataFrame(rows), schema=schema)
    return spark.createDataFrame(list(rows), schema)


class Doc(Model):
    doc_id: str
    n_tok: int = Field(ge=1)


def _leaves(df):
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def _docs(spark):
    return local_frame(
        spark,
        [
            ("doc-1", [1, 2, 3], 3, "web", "http://a.example.com/x"),
            ("doc-2", [4, 4], 2, "wiki", "http://b.example.org/y"),
            ("doc-3", [5, 70_000], 2, "web", "http://spam.example.net/z"),
            ("doc-4", [6], 1, "books", None),
        ],
        "doc_id string, tokens array<int>, n_tok long, source string, url string",
    )


#: site → (module that builds the frame, call) for sites that return it;
#: ``JOINED`` sites join it into a plan over the input
SITES = {
    "sources_dim": (token_table, lambda s, d: token_table.sources_dim(s)),
    "suite_report": (
        suite,
        lambda s, d: Suite([expect.not_null("doc_id"), expect.row_count_between(1, 10)]).run(d),
    ),
    "unigram_lm_table": (lm, lambda s, d: lm.unigram_lm_table(d, 16)),
    "lm_cross_entropy": (lm, lambda s, d: lm.lm_cross_entropy(d, d, 16)),
    "lm_cross_entropy_empty": (lm, lambda s, d: lm.lm_cross_entropy(d, d.limit(0), 16)),
    "schema_diff": (
        schema_drift,
        lambda s, d: schema_drift.schema_diff(
            d, d.drop("url").withColumn("n_tok", d.n_tok.cast("int"))
        ),
    ),
    "schema_conformance": (schema_conf, lambda s, d: schema_conf.schema_conformance(s, d, Doc)),
    "suggest_constraints": (suggest, lambda s, d: suggest.suggest_constraints(d)),
}
JOINED = {
    "mixture_epochs": (
        sampling,
        lambda s, d: sampling.mixture_epochs(d, "source", "doc_id", "n_tok", {"web": 2, "wiki": 1}),
    ),
    "mixture_epochs_report": (
        sampling,
        lambda s, d: sampling.mixture_epochs_report(d, d, "source", "n_tok", {"web": 2, "wiki": 1}),
    ),
    "blocklist_filter": (
        weburl,
        lambda s, d: weburl.blocklist_filter(d, ["example.net"], as_join=True),
    ),
}


@pytest.mark.parametrize("site", sorted(SITES) + sorted(JOINED))
def test_driver_built_frames_are_local_relations(spark, site, monkeypatch):
    module, build = SITES.get(site) or JOINED[site]
    got = build(spark, _docs(spark))
    leaves = _leaves(got)
    assert "LocalRelation" in leaves and "LogicalRDD" not in leaves, leaves
    if site in SITES:
        assert got._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"

    monkeypatch.setattr(module, "local_frame", python_frame)
    want = build(spark, _docs(spark))
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
