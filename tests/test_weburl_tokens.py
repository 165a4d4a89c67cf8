"""URL/web-provenance ops (functions/weburl.py) and token-vocabulary ops
(functions/tokens.py): value checks on hand-computable fixtures plus plan
shape assertions for the scale-critical paths."""

import pytest
from pyspark.sql import functions as F

from vldt_spark.functions.weburl import (
    blocklist_filter,
    domain_cap,
    domain_report,
    normalize_url,
    parse_urls,
    registrable_domain,
    url_dedup,
)
from vldt_spark.functions.tokens import (
    oov_report,
    token_bigram_topk,
    token_histogram,
    vocab_coverage,
)


URLS = [
    # (doc_id, url)
    (1, "HTTPS://News.Example.co.uk:443/a/b?z=2&a=1#frag"),
    (2, "https://news.example.co.uk/a/b?a=1&z=2"),
    (3, "http://cdn.example.com:8080/x"),
    (4, "http://cdn.example.com:80/x"),
    (5, "ftp://Files.Sample.org/pub/"),
    (6, "https://user:pw@blog.sample.org/post?id=9"),
    (7, "not a url at all"),
    (8, "https://localhost/only"),
    (9, "https://sub.deep.example.com/y"),
]


@pytest.fixture(scope="module")
def urls_df(spark):
    return spark.createDataFrame(URLS, "doc_id long, url string")


def test_parse_urls_components(urls_df):
    rows = {
        r["doc_id"]: r
        for r in parse_urls(urls_df).collect()
    }
    r1 = rows[1]
    assert r1["scheme"] == "https"
    assert r1["host"] == "news.example.co.uk"
    assert r1["port"] == "443"
    assert r1["path"] == "/a/b"
    assert r1["query"] == "z=2&a=1"
    assert r1["fragment"] == "frag"
    # userinfo stripped from host
    assert rows[6]["host"] == "blog.sample.org"
    assert rows[6]["port"] is None
    # non-URL -> all NULL
    assert rows[7]["scheme"] is None and rows[7]["host"] is None
    # no port / no query / no fragment -> NULL
    assert rows[5]["port"] is None and rows[5]["query"] is None


def test_normalize_url_collapses_equivalent_forms(urls_df):
    got = {
        r["doc_id"]: r["n"]
        for r in urls_df.select(
            "doc_id", normalize_url(F.col("url")).alias("n")
        ).collect()
    }
    # case, default port, query order, fragment all collapse
    assert got[1] == got[2] == "https://news.example.co.uk/a/b?a=1&z=2"
    # non-default port preserved; default port dropped
    assert got[3] == "http://cdn.example.com:8080/x"
    assert got[4] == "http://cdn.example.com/x"
    # unparseable -> NULL; bare host -> path defaulted
    assert got[7] is None
    assert got[8] == "https://localhost/only"


def test_registrable_domain_two_level_suffixes(spark):
    hosts = ["news.example.co.uk", "sub.deep.example.com", "example.com",
             "localhost", "co.uk", "a.b.com.au"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = dict(
        df.select(
            "host", registrable_domain(F.col("host")).alias("d")
        ).collect()
    )
    assert got["news.example.co.uk"] == "example.co.uk"
    assert got["sub.deep.example.com"] == "example.com"
    assert got["example.com"] == "example.com"
    assert got["localhost"] is None  # single label
    # a bare two-level suffix has no registrable label; last-2 fallback
    assert got["co.uk"] == "co.uk"
    assert got["a.b.com.au"] == "b.com.au"


def test_domain_report_and_blocklist(urls_df):
    rep = {r["domain"]: r for r in domain_report(urls_df).collect()}
    # doc 1 and 2 normalize identically -> 1 unique URL, 1 dup
    r = rep["example.co.uk"]
    assert r["n_docs"] == 2 and r["n_unique_urls"] == 1 and r["n_dup_urls"] == 1
    assert rep["example.com"]["n_docs"] == 3
    # literal and broadcast-join blocklist agree
    lit = blocklist_filter(urls_df, ["example.com"])
    jn = blocklist_filter(urls_df, ["example.com"], as_join=True)
    lit_ids = sorted(r["doc_id"] for r in lit.collect())
    jn_ids = sorted(r["doc_id"] for r in jn.collect())
    assert lit_ids == jn_ids
    assert 3 not in lit_ids and 9 not in lit_ids and 1 in lit_ids
    # NULL-domain rows (unparseable, single-label host) survive
    assert 7 in lit_ids and 8 in lit_ids
    # the join variant broadcasts the blocklist
    plan = jn._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_url_dedup_and_domain_cap(urls_df):
    kept = sorted(r["doc_id"] for r in url_dedup(urls_df).collect())
    # doc 2 is the duplicate of doc 1's normalized URL; doc 1 (lower id) wins
    assert 1 in kept and 2 not in kept
    assert 7 in kept  # NULL norm passes through
    capped = domain_cap(urls_df, max_docs=1)
    by_dom = (
        parse_urls(capped)
        .select(registrable_domain(F.col("host")).alias("d"), "doc_id")
        .collect()
    )
    from collections import Counter

    counts = Counter(r["d"] for r in by_dom if r["d"] is not None)
    assert max(counts.values()) == 1
    # WindowGroupLimit: the per-partition partial limit precedes the shuffle
    plan = url_dedup(urls_df)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


TOKS = [
    # (doc_id, tokens, source)
    ("a", [1, 2, 2, 3], "s1"),
    ("b", [2, 3, 999, 3], "s1"),      # 999 OOV at vocab=100
    ("c", [None, 1, 1], "s2"),        # NULL element
    ("d", None, "s2"),                # NULL array
    ("e", [5], "s2"),
]


@pytest.fixture(scope="module")
def toks_df(spark):
    return spark.createDataFrame(
        TOKS, "doc_id string, tokens array<int>, source string"
    )


def test_token_histogram_exact_counts(toks_df):
    got = {
        r["token"]: r["cnt"]
        for r in token_histogram(toks_df, vocab_size=100).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 5: 1, -1: 2}  # -1 = 999 OOV + 1 NULL


def test_oov_report_rates(toks_df):
    got = {r["source"]: r for r in oov_report(toks_df, 100).collect()}
    assert got["s1"]["total_tokens"] == 8 and got["s1"]["oov_tokens"] == 1
    assert got["s2"]["total_tokens"] == 4 and got["s2"]["oov_tokens"] == 1
    assert got["s1"]["oov_rate"] == pytest.approx(1 / 8)


def test_vocab_coverage(toks_df):
    r = vocab_coverage(toks_df, 100).collect()[0]
    assert r["distinct_tokens"] == 4
    assert r["vocab_coverage"] == pytest.approx(0.04)
    assert r["min_token"] == 1 and r["max_token"] == 5
    assert r["in_vocab_tokens"] == 10


def test_token_bigram_topk_deterministic(toks_df):
    rows = token_bigram_topk(toks_df, vocab_size=100, k=3).collect()
    assert [(r["tok_a"], r["tok_b"], r["cnt"]) for r in rows] == [
        (2, 3, 2),   # from docs a and b
        (1, 1, 1),   # NULL breaks (None,1); (1,1) survives
        (1, 2, 1),
    ]
    assert [r["rank"] for r in rows] == [1, 2, 3]


def _final_plan_nodes(df):
    """Every node of ``df``'s executed plan, the query stages' plans
    included (the final adaptive plan when AQE is on)."""
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


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_histogram_never_ships_token_arrays_through_shuffle(spark, aqe):
    # the property the histogram's scale rests on: no exchange carries a
    # token array, and the shuffle writes at most |distinct tokens| + 1
    # partial rows per map partition -- far fewer than the tokens
    n_parts, n_rows, seq_len = 3, 300, 40
    rows = [
        (f"d{i}", [None if (i + j) % 17 == 0 else (i * j) % 11 + (j % 3) * 500
                   for j in range(seq_len)])
        for i in range(n_rows)
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_parts),
        "doc_id string, tokens array<int>",
    )
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        hist = token_histogram(df, 100)
        got = hist.collect()
        nodes = _final_plan_nodes(hist)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert sum(r["cnt"] for r in got) == n_rows * seq_len
    exchanges = [n for n in nodes if "Exchange" in n.getClass().getSimpleName()]
    shuffles = [
        n for n in exchanges
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
    ]
    assert shuffles
    for ex in exchanges:
        out = ex.output()
        types = [out.apply(i).dataType().typeName() for i in range(out.size())]
        assert "array" not in types, (ex.getClass().getSimpleName(), types)
    written = sum(
        ex.metrics().apply("shuffleRecordsWritten").value() for ex in shuffles
    )
    distinct = sum(1 for r in got if r["token"] >= 0)
    assert 0 < written <= n_parts * (distinct + 1) < n_rows * seq_len


# -- sequence_stats / zipf_report (round 5) ------------------------------

def test_sequence_stats_values(spark):
    import math

    from vldt_spark.functions.tokens import sequence_stats

    df = spark.createDataFrame(
        [
            ("a", [7, 7, 7, 7]),          # constant: entropy 0, run 4
            ("b", [1, 2, 3, 4]),          # uniform: entropy ln(4), run 1
            ("c", [1, 1, 2, 1, 1, 1]),    # runs 2 and 3 -> max 3
            ("d", []),                    # empty
            ("e", None),                  # NULL array
            ("f", [None, 5, None]),       # NULL elements count as -1
        ],
        "doc_id string, tokens array<int>",
    )
    got = {r["doc_id"]: r for r in sequence_stats(df).collect()}
    a = got["a"]
    assert (a["n_tok"], a["n_distinct"], a["max_run"]) == (4, 1, 4)
    assert a["entropy"] == 0.0 and a["top_share"] == 1.0
    assert a["distinct_ratio"] == 0.25
    b = got["b"]
    assert (b["n_tok"], b["n_distinct"], b["max_run"]) == (4, 4, 1)
    assert b["entropy"] == pytest.approx(math.log(4), abs=1e-6)
    assert b["top_share"] == 0.25
    c = got["c"]
    assert c["max_run"] == 3
    assert c["n_distinct"] == 2
    assert c["top_share"] == pytest.approx(5 / 6, abs=1e-6)
    for k in ("d", "e"):
        r = got[k]
        assert (r["n_tok"], r["n_distinct"], r["max_run"]) == (0, 0, 0)
        assert r["distinct_ratio"] is None
        assert r["entropy"] is None and r["top_share"] is None
    f = got["f"]  # [-1, 5, -1]: two distinct, max run 1
    assert (f["n_tok"], f["n_distinct"], f["max_run"]) == (3, 2, 1)


def test_sequence_stats_is_shuffle_free(toks_df):
    from vldt_spark.functions.tokens import sequence_stats

    plan = (
        sequence_stats(toks_df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_zipf_report_exact_fit(spark):
    import math

    from vldt_spark.functions.tokens import zipf_report

    # counts 8,4,2,1 at ranks 1..4: ln(c) = ln(8) - ln(2)/ln(2) * ... a
    # perfect power law c = 16 * r^(-3/ln-steps)? Use c = 2^(4-r):
    # ln c = 4 ln 2 - r ln 2 — NOT linear in ln r, so instead construct
    # c = 64 / r for r in 1,2,4 -> ln c = ln 64 - ln r (slope exactly -1).
    rows = []
    did = 0
    for tok, cnt in [(0, 64), (1, 32), (2, 16)]:
        for _ in range(cnt):
            rows.append((str(did), [tok]))
            did += 1
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    r = zipf_report(df, 10).collect()[0]
    # ranks 1,2,3 with counts 64,32,16: ln c = ln 64 - (ln 2 / ?) ... the
    # three points (ln r, ln c) are NOT collinear; just pin the exact OLS
    # values computed closed-form here.
    import numpy as np

    x = np.log(np.array([1.0, 2.0, 3.0]))
    y = np.log(np.array([64.0, 32.0, 16.0]))
    slope = ((x - x.mean()) * (y - y.mean())).sum() / ((x - x.mean()) ** 2).sum()
    inter = y.mean() - slope * x.mean()
    assert r["n_vocab"] == 3
    assert r["zipf_slope"] == pytest.approx(slope, abs=1e-6)
    assert r["zipf_intercept"] == pytest.approx(inter, abs=1e-6)
    assert 0.9 < r["r2"] <= 1.0


def test_zipf_report_single_token_null_slope(spark):
    from vldt_spark.functions.tokens import zipf_report

    df = spark.createDataFrame(
        [("a", [3, 3, 3])], "doc_id string, tokens array<int>"
    )
    r = zipf_report(df, 10).collect()[0]
    assert r["n_vocab"] == 1
    assert r["zipf_slope"] is None and r["zipf_intercept"] is None


def test_degenerate_sequence_guard_arms(spark):
    from vldt_spark.checks.suite import Suite, expect

    df = spark.createDataFrame(
        [
            ("a", [1, 2, 3, 4, 5]),      # healthy
            ("b", [9, 9, 9, 9]),         # run 4 -> degenerate at max_run=3
            ("c", []),                   # empty -> always degenerate
            ("d", [1, 2, 1, 2]),         # healthy
        ],
        "doc_id string, tokens array<int>",
    )
    rep = Suite(
        [
            expect.degenerate_sequence_share_below("tokens", 0.6, max_run=3),
            expect.degenerate_sequence_share_below("tokens", 0.1, max_run=3),
            expect.degenerate_sequence_share_below(
                "tokens", 0.9, max_run=100, min_entropy=0.5
            ),
        ]
    ).run(df)
    rows = rep.collect()
    assert [r["passed"] for r in rows] == [True, False, True]
    assert rows[0]["metric"] == 0.5            # b and c of 4
    assert rows[2]["metric"] == 0.5            # b (entropy 0) and c (empty)
