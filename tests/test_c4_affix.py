"""Round-5 session-2 ops: the C4 cleaning bundle (Raffel et al. 2020
§2.2 — line-level terminal-punctuation / min-words / javascript filters,
lorem-ipsum + brace document screens, sentence-survivor check) and the
token affix (boilerplate prefix/suffix) report."""

import pytest
from pyspark.sql import functions as F

from vldt_spark.functions.text import c4_clean, c4_report, c4_rules
from vldt_spark.functions.tokens import token_affix_report

DOCS = [
    # clean: 3 kept lines, 3 sentences
    (1, "src_a",
     "A good first sentence with six words here.\n"
     "A good second sentence with words here.\n"
     "A good third sentence with words here."),
    # line filters: short line, javascript line, one survivor
    (2, "src_a",
     "tiny line\n"
     "Please enable javascript to view this page now.\n"
     "A good long sentence with many words here."),
    # lorem ipsum screen
    (3, "src_b",
     "Lorem ipsum dolor sit amet consectetur adipiscing elit.\n"
     "A good second sentence with words here.\n"
     "A good third sentence with words here."),
    # curly-brace screen; brace line also fails the line filter
    (4, "src_b",
     'var config = {"a": 1};\n'
     "A good second sentence with words here.\n"
     "A good third sentence with words here.\n"
     "A good fourth sentence with words here."),
    # nothing survives the line filter
    (5, "src_b",
     "no terminal punctuation in this line\n"
     "another line without any punctuation mark"),
]


@pytest.fixture(scope="module")
def flags(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, source string, text string")
    out = df.select("doc_id", c4_rules(F.col("text")).alias("c")).collect()
    return {r["doc_id"]: r["c"].asDict() for r in out}


def test_clean_doc_passes(flags):
    c = flags[1]
    assert c["passes"] and c["n_kept_lines"] == 3 and c["n_sentences"] == 3
    assert c["kept_frac"] == 1.0


def test_line_filters_drop_short_and_javascript(flags):
    c = flags[2]
    assert c["n_kept_lines"] == 1 and c["n_lines"] == 3
    assert c["lorem_ok"] and c["brace_ok"]
    assert not c["sentences_ok"] and not c["passes"]


def test_lorem_ipsum_screen_case_insensitive(flags):
    c = flags[3]
    assert not c["lorem_ok"] and not c["passes"]
    # the line filter itself keeps all three lines
    assert c["n_kept_lines"] == 3 and c["sentences_ok"]


def test_brace_screen(flags):
    c = flags[4]
    assert not c["brace_ok"] and not c["passes"]
    assert c["n_kept_lines"] == 3  # the brace line fails the line filter too


def test_no_survivor_lines(flags):
    c = flags[5]
    assert c["n_kept_lines"] == 0 and c["n_sentences"] == 0
    assert not c["passes"] and c["kept_frac"] == 0.0


def test_c4_clean_keeps_only_passing_docs_and_rewrites_text(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, source string, text string")
    out = c4_clean(df).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["text"].count("\n") == 2  # 3 kept lines rejoined


def test_c4_report_fractions(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, source string, text string")
    r = c4_report(df).collect()[0]
    assert r["n_docs"] == 5
    assert r["lorem_fail_frac"] == 0.2
    assert r["brace_fail_frac"] == 0.2
    assert r["pass_frac"] == 0.2
    # kept fracs: 1.0, 1/3, 1.0, 0.75, 0.0
    assert r["mean_kept_frac"] == round((1.0 + 0.333333 + 1.0 + 0.75 + 0.0) / 5, 6)


def test_affix_prefix_groups_and_share(spark):
    df = spark.createDataFrame(
        [
            (1, [1, 2, 3, 4, 9, 9]),
            (2, [1, 2, 3, 4, 8, 8]),
            (3, [1, 2, 3, 4, 7, 7]),
            (4, [5, 6, 7, 8, 9, 9]),
            (5, [9, 9]),          # too short for k=4
            (6, None),            # NULL tokens never eligible
        ],
        "doc_id long, tokens array<int>",
    )
    rows = token_affix_report(df, k=4, side="prefix", top=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["affix"] == [1, 2, 3, 4] and r["n_docs"] == 3
    assert r["exemplar_id"] == 1 and r["rank"] == 1
    assert r["doc_share"] == 0.75  # 3 of the 4 length-eligible docs


def test_affix_suffix_side_and_min_docs(spark):
    df = spark.createDataFrame(
        [(1, [7, 1, 2]), (2, [8, 1, 2]), (3, [9, 3, 4])],
        "doc_id long, tokens array<int>",
    )
    rows = token_affix_report(df, k=2, side="suffix", min_docs=2).collect()
    assert len(rows) == 1 and rows[0]["affix"] == [1, 2]
    # raising min_docs filters it out entirely
    assert token_affix_report(df, k=2, side="suffix", min_docs=3).count() == 0


def test_strip_affix_prefix_and_ntok_recompute(spark):
    from vldt_spark.functions.tokens import strip_affix

    df = spark.createDataFrame(
        [
            (1, [1, 2, 9, 9], 4),
            (2, [1, 2, 8, 8], 4),
            (3, [3, 4, 5, 6], 4),  # unique prefix: untouched
            (4, [1, 2], 2),        # exactly k long: stripped to empty
            (5, None, None),
        ],
        "doc_id long, tokens array<int>, n_tok int",
    )
    out = {r["doc_id"]: r for r in strip_affix(df, k=2, side="prefix").collect()}
    assert out[1]["tokens"] == [9, 9] and out[1]["affix_stripped"]
    assert out[1]["n_tok"] == 2
    assert out[2]["tokens"] == [8, 8] and out[2]["n_tok"] == 2
    assert out[3]["tokens"] == [3, 4, 5, 6] and not out[3]["affix_stripped"]
    assert out[3]["n_tok"] == 4
    assert out[4]["tokens"] == [] and out[4]["n_tok"] == 0
    assert out[5]["tokens"] is None and not out[5]["affix_stripped"]


def test_strip_affix_suffix_side(spark):
    from vldt_spark.functions.tokens import strip_affix

    df = spark.createDataFrame(
        [(1, [7, 1, 2]), (2, [8, 1, 2]), (3, [9, 3, 4])],
        "doc_id long, tokens array<int>",
    )
    out = {r["doc_id"]: r for r in strip_affix(df, k=2, side="suffix").collect()}
    assert out[1]["tokens"] == [7] and out[2]["tokens"] == [8]
    assert out[3]["tokens"] == [9, 3, 4] and not out[3]["affix_stripped"]


def test_suite_c4_guard_arms(spark):
    from vldt_spark.checks.suite import Suite, expect

    df = spark.createDataFrame(DOCS, "doc_id long, source string, text string")
    rows = Suite(
        [
            expect.c4_pass_frac_above("text", 0.1),  # 1/5 > 0.1
            expect.c4_pass_frac_above("text", 0.5),  # 1/5 < 0.5
        ]
    ).run(df).collect()
    got = [(r["check"], r["threshold"], r["passed"]) for r in rows]
    assert ("c4_pass_frac_above", 0.1, True) in got
    assert ("c4_pass_frac_above", 0.5, False) in got
    m = [r["metric"] for r in rows][0]
    assert m == pytest.approx(0.2, abs=1e-6)


def test_suite_c4_guard_empty_corpus(spark):
    from vldt_spark.checks.suite import Suite, expect

    df = spark.createDataFrame([], "doc_id long, source string, text string")
    rows = Suite([expect.c4_pass_frac_above("text", 0.5)]).run(df).collect()
    assert len(rows) == 1 and not rows[0]["passed"]


def test_stream_c4_windows_closed_form(spark):
    import datetime as dt

    from vldt_spark.streaming import replay
    from vldt_spark.streaming.c4_stream import stream_c4_windows

    d1 = dt.datetime(2024, 1, 1, 6)
    d2 = dt.datetime(2024, 1, 2, 6)
    batches = [
        [
            (d1, DOCS[0][2]),   # passes
            (d1, DOCS[2][2]),   # lorem
            (d1, DOCS[4][2]),   # no kept lines
            (d2, DOCS[3][2]),   # brace
            (d2, None),         # NULL text: watermark signal, no cells
        ],
        [(dt.datetime(2024, 3, 1), None)],  # sentinel closes both windows
    ]
    frames = [spark.createDataFrame(rows, "ts timestamp, text string") for rows in batches]
    out = replay(spark, frames, lambda s: stream_c4_windows(s, "ts", "text"), mode="append")
    got = {r["window_start"]: r for r in out.collect()}
    w1 = got[dt.datetime(2024, 1, 1)]
    assert (w1["n_docs"], w1["n_pass"], w1["n_lorem"], w1["n_brace"]) == (3, 1, 1, 0)
    assert w1["n_few_sentences"] == 1  # the no-kept-lines doc
    assert w1["pass_frac"] == round(1 / 3, 6)
    assert w1["mean_kept_frac"] == round((1.0 + 1.0 + 0.0) / 3, 6)
    w2 = got[dt.datetime(2024, 1, 2)]
    # NULL text counts in no cell, including n_docs
    assert (w2["n_docs"], w2["n_pass"], w2["n_brace"]) == (1, 0, 1)
    assert w2["mean_kept_frac"] == 0.75


def test_affix_rank_is_deterministic_on_ties(spark):
    # two affix groups with equal n_docs tie-break by exemplar_id
    df = spark.createDataFrame(
        [(10, [1, 1]), (11, [1, 1]), (2, [2, 2]), (3, [2, 2])],
        "doc_id long, tokens array<int>",
    )
    rows = token_affix_report(df, k=2, side="prefix").orderBy("rank").collect()
    assert [r["affix"] for r in rows] == [[2, 2], [1, 1]]
    assert [r["rank"] for r in rows] == [1, 2]
