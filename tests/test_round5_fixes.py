"""Round-5 items: Bloom-screened duplicated-n-gram fraction (one-sided
error + shuffle-free probe plan), bloom bitmap auto-sizing, the
window-end eviction fix in streaming CMS, IP-literal registrable
domains, and the suite half-up rounding convention."""

import warnings

import pytest
from pyspark.sql import functions as F


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely unrelated text with unique words here"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, ""),
        (6, None),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_dup_ngram_screened_matches_exact_at_default_bitmap(spark):
    from vldt_spark.functions.dedup import (
        duplicated_ngram_fraction,
        duplicated_ngram_fraction_screened,
    )

    docs = _docs(spark)
    exact = {
        r["doc_id"]: (r["n_shingles"], r["n_duplicated"])
        for r in duplicated_ngram_fraction(docs, shingle_k=3).collect()
    }
    scr = {
        r["doc_id"]: (r["n_shingles"], r["n_duplicated"])
        for r in duplicated_ngram_fraction_screened(docs, shingle_k=3).collect()
    }
    # default (auto-sized, >= 1 MiB floor) bitmap: FP probability per
    # probe ~ (fill)^5 with fill ~ 1e-5 here — structurally zero
    assert scr == exact
    # docs 1 and 4 are identical -> fully duplicated; doc 3 unique
    assert exact[1][1] == exact[1][0] > 0
    assert exact[3] == (exact[3][0], 0)
    assert exact[5] == (0, 0) and exact[6] == (0, 0)


def test_dup_ngram_screened_error_is_one_sided(spark):
    from vldt_spark.functions.dedup import (
        duplicated_ngram_fraction,
        duplicated_ngram_fraction_screened,
    )

    docs = _docs(spark)
    exact = {
        r["doc_id"]: r["n_duplicated"]
        for r in duplicated_ngram_fraction(docs, shingle_k=3).collect()
    }
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # deliberate saturated bitmap
        scr = duplicated_ngram_fraction_screened(
            docs, shingle_k=3, n_bits=64, n_hashes=2
        ).collect()
    # a saturated bitmap may only OVERcount (Bloom has no false negatives)
    for r in scr:
        assert r["n_duplicated"] >= exact[r["doc_id"]]
        assert r["n_duplicated"] <= r["n_shingles"]


def test_dup_ngram_screened_plan_has_no_join(spark):
    from vldt_spark.functions.dedup import duplicated_ngram_fraction_screened

    docs = _docs(spark)
    plan = (
        duplicated_ngram_fraction_screened(docs, shingle_k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the whole probe side is scan -> row-local project -> mapInArrow:
    # the doc->shingle relation never rides a join or a shuffle
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_bloom_size_bits_scales_with_dim_cardinality(spark):
    from vldt_spark.checks.referential import bloom_size_bits

    small = spark.range(1000).withColumnRenamed("id", "k")
    # small dims keep the 1 MiB floor
    assert bloom_size_bits(small, "k") == 1 << 23
    big = spark.range(1_500_000).withColumnRenamed("id", "k")
    bits = bloom_size_bits(big, "k")
    # 1.5M keys need ~ 5*1.5e6/0.223 = 33.6M bits -> next pow2 = 2^26
    assert bits >= 1 << 25
    # power of two
    assert bits & (bits - 1) == 0


def test_bloom_build_warns_on_saturated_bitmap(spark):
    from vldt_spark.checks.referential import bloom_build

    dim = spark.range(5000).withColumnRenamed("id", "k")
    with pytest.warns(RuntimeWarning, match="fill"):
        bloom_build(dim, "k", n_bits=1 << 10)
    # auto-sized build never warns
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        bm = bloom_build(dim, "k")
    assert len(bm) * 8 == 1 << 23


def test_cms_stream_duration_parser():
    from vldt_spark.streaming.cms_stream import _duration_ms

    assert _duration_ms("1 day") == 86_400_000
    assert _duration_ms("30 minutes") == 1_800_000
    assert _duration_ms("10 seconds") == 10_000
    assert _duration_ms("2 hours") == 7_200_000
    assert _duration_ms("1 week") == 604_800_000
    with pytest.raises(ValueError):
        _duration_ms("5 fortnights")


def test_registrable_domain_ip_literals(spark):
    from vldt_spark.functions.weburl import registrable_domain

    df = spark.createDataFrame(
        [
            ("192.168.0.1",),
            ("10.0.0.1",),
            ("[2001:db8::1]",),
            ("news.example.co.uk",),
            ("cdn.example.com",),
            ("localhost",),
            (None,),
        ],
        "host string",
    )
    got = {
        r["host"]: r["d"]
        for r in df.select("host", registrable_domain(F.col("host")).alias("d")).collect()
    }
    # IP literals key on the FULL address — unrelated IPs must not
    # collapse onto a label suffix like '0.1'
    assert got["192.168.0.1"] == "192.168.0.1"
    assert got["10.0.0.1"] == "10.0.0.1"
    assert got["[2001:db8::1]"] == "[2001:db8::1]"
    assert got["news.example.co.uk"] == "example.co.uk"
    assert got["cdn.example.com"] == "example.com"
    assert got["localhost"] is None
    assert got[None] is None


def test_arrow_shingles_match_expression_path(spark):
    from vldt_spark.functions.dedup import _shingle_rows_arrow, word_shingles

    docs = spark.createDataFrame(
        [
            (1, "The quick  Brown\tfox\njumps over the lazy dog"),
            (2, "short doc"),
            (3, "one"),
            (4, ""),
            (5, None),
            (6, "  padded   with\t\tmixed   whitespace  "),
            (7, "a b a b a b a b"),  # repeated grams -> distinct must dedup
        ],
        "doc_id int, text string",
    )
    for k in (3, 13):
        expr = {
            (r["doc_id"], r["shingle"])
            for r in docs.select(
                "doc_id", F.explode(word_shingles(F.col("text"), k)).alias("shingle")
            ).collect()
        }
        arrow_rows = _shingle_rows_arrow(docs, "doc_id", "text", k).collect()
        arrow = {(r["doc_id"], r["shingle"]) for r in arrow_rows}
        assert arrow == expr, f"k={k}"
        # n_grams rides along correctly: equals the doc's distinct count
        from collections import Counter

        per_doc = Counter(r["doc_id"] for r in arrow_rows)
        for r in arrow_rows:
            assert r["n_grams"] == per_doc[r["doc_id"]]


def test_contamination_impls_agree(spark):
    from vldt_spark.functions.dedup import contamination_report

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta other words"),
            (3, "nothing shared here at all friends"),
        ],
        "doc_id int, text string",
    )
    bench = docs.where(F.col("doc_id") == 1)
    a = sorted(
        map(
            tuple,
            contamination_report(docs, bench, shingle_k=4, shingle_impl="expr").collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            contamination_report(docs, bench, shingle_k=4, shingle_impl="arrow").collect(),
        )
    )
    assert a == b
    assert len(a) == 2  # doc 1 (itself) + doc 2 (shares 'alpha beta gamma delta')


def test_exact_substr_merges_overlapping_spans(spark):
    from vldt_spark.functions.dedup import exact_substr_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "x y a b c d z"),
            (3, "p q r p q r p q r"),
            (4, "unique words only here"),
            (5, None),
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (
            r["text_clean"],
            r["n_words"],
            r["n_removed_words"],
            r["n_spans"],
        )
        for r in exact_substr_dedup(docs, k=3).collect()
    }
    # docs 1/2 share "a b c d": two overlapping 3-gram seeds ("a b c",
    # "b c d") must merge into ONE maximal 4-word span in each doc
    assert got[1] == ("e f", 6, 4, 1)
    assert got[2] == ("x y z", 7, 4, 1)
    # within-doc repetition: every 3-gram of doc 3 repeats -> the whole
    # doc is one excised span
    assert got[3] == ("", 9, 9, 1)
    assert got[4] == ("unique words only here", 4, 0, 0)
    assert got[5] == ("", 0, 0, 0)


def test_exact_substr_keep_first_preserves_first_occurrence(spark):
    from vldt_spark.functions.dedup import exact_substr_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "x y a b c d z"),
            (3, "p q r p q r p q r"),
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (r["text_clean"], r["n_removed_words"], r["n_spans"])
        for r in exact_substr_dedup(docs, k=3, keep_first=True).collect()
    }
    # doc 1 holds the corpus-wide first occurrence of both shared grams
    assert got[1] == ("a b c d e f", 0, 0)
    assert got[2] == ("x y z", 4, 1)
    # self-repeating doc keeps its first copy of each gram
    assert got[3] == ("p q r", 6, 1)


def test_ivf_pq_recall_vs_bruteforce(spark):
    """IVF-PQ at full probe isolates the PQ+rerank error: recall@5 vs the
    exact brute force must be >= 0.9 (dsub=4 subspaces, 32-code books)."""
    import os

    from pyspark.sql import functions as F

    from vldt_spark.functions.similarity import cosine_topk_bruteforce, ivf_topk

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.where(F.col("vec_id") < 10)
    onehot = [[1.0 if j == i else 0.0 for j in range(64)] for i in range(16)]
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(
            emb, queries, k=5, nprobe=16, centroids=onehot, dim=64,
            pq_m=16, pq_codes=32, rerank=8,
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, recall


def test_ivf_pq_cosines_are_exact(spark):
    """PQ approximates only the CANDIDATE ORDERING; returned cosine values
    come from the exact rerank, so every (query, vec, cosine) triple must
    also appear in the brute-force scoring."""
    import os

    from pyspark.sql import functions as F

    from vldt_spark.functions.similarity import cosine_topk_bruteforce, ivf_topk

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.where(F.col("vec_id") < 3)
    onehot = [[1.0 if j == i else 0.0 for j in range(64)] for i in range(16)]
    all_exact = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in cosine_topk_bruteforce(emb, queries, k=50).collect()
    }
    for r in ivf_topk(
        emb, queries, k=5, nprobe=16, centroids=onehot, dim=64,
        pq_m=16, pq_codes=32, rerank=8,
    ).collect():
        key = (r["query_id"], r["vec_id"])
        if key in all_exact:  # top-50 window of the brute force
            assert abs(r["cosine"] - all_exact[key]) < 1e-9


def test_pq_train_shapes(spark):
    from vldt_spark.functions.similarity import pq_train

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(16)]) for i in range(100)],
        "vec_id int, embedding array<double>",
    )
    books = pq_train(emb, pq_m=4, pq_codes=8, dim=16)
    assert len(books) == 4
    assert all(len(b) <= 8 for b in books)
    assert all(len(c) == 4 for b in books for c in b)
    # deterministic across calls
    assert books == pq_train(emb, pq_m=4, pq_codes=8, dim=16)


def test_suite_corpus_guards(spark):
    from vldt_spark.checks.suite import Suite, expect

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "totally different words in this one friend"),
        ],
        "doc_id int, text string",
    )
    bench = docs.where(F.col("doc_id") == 3)
    report = {
        (r["check"], r["threshold"]): (r["metric"], r["passed"])
        for r in Suite(
            [
                expect.dup_ngram_fraction_below("text", 0.9, shingle_k=3),
                expect.dup_ngram_fraction_below("text", 0.1, shingle_k=3),
                expect.contamination_below("text", bench, 0.5, shingle_k=3),
                expect.contamination_below("text", bench, 0.1, shingle_k=3),
            ]
        ).run(docs).collect()
    }
    # docs 1+2 identical (7 shingles each, all duplicated), doc 3 unique
    # (5 shingles): 14/19 exploded shingles duplicated
    m_dup = report[("dup_ngram_fraction_below", 0.9)][0]
    assert abs(m_dup - 14.0 / 19.0) < 1e-6
    assert report[("dup_ngram_fraction_below", 0.9)][1] is True
    assert report[("dup_ngram_fraction_below", 0.1)][1] is False
    # only doc 3 shares 3-grams with the benchmark (itself): 1/3 docs
    m_con = report[("contamination_below", 0.5)][0]
    assert abs(m_con - 1.0 / 3.0) < 1e-6
    assert report[("contamination_below", 0.5)][1] is True
    assert report[("contamination_below", 0.1)][1] is False


def test_bench_compact_line_fits_driver_tail():
    """The driver parses a JSON line from the LAST ~2000 chars of bench
    stdout; the worst-case compact line over the FULL round-5 bench set
    must stay well inside that window (round-3 regression guard)."""
    import bench

    worst_timings = {name: 9999.99 for name in bench.BENCH_QUERY_NAMES}
    line = bench.compact_line(
        total=99999.999,
        timings=worst_timings,
        sf="0.1",
        token_rows=1_000_000,
        seqs_per_sec=9999999.9,
        seqs_per_sec_median=9999999.9,
        flagship_reps=[9999.999] * 5,
        cpus=32,
    )
    # 38 queries at worst-case widths overflows the 1450 budget raw;
    # compact_line's tiered degradation (drop reps -> integer seconds ->
    # drop map) must bring the line back under it while KEEPING the
    # queries map. The driver tail keeps ~2000 chars and the line is
    # bench's ONLY stdout, so ≤1450 leaves ≥550 chars of margin.
    assert len(line) < 1450, len(line)
    import json

    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(bench.BENCH_QUERY_NAMES)


def test_suite_round6_is_half_up():
    from vldt_spark.rounding import round6

    # 0.1234565 halves up to 0.123457 (banker's round() gives 0.123456)
    assert round6(0.1234565) == 0.123457
    assert round6(0.1234555) == 0.123456
    nan = round6(float("nan"))
    assert nan != nan
    assert round6(float("inf")) == float("inf")


def test_corpus_shuffle_deterministic_and_dense(spark):
    from vldt_spark.functions.sampling import corpus_shuffle

    df = spark.createDataFrame(
        [(f"doc{i}", i) for i in range(200)], "doc_id string, v int"
    )
    a = corpus_shuffle(df, "doc_id", 4, seed=7, with_pos=True)
    b = corpus_shuffle(df.repartition(13), "doc_id", 4, seed=7, with_pos=True)
    ra = {r.doc_id: (r.shard, r.pos) for r in a.collect()}
    rb = {r.doc_id: (r.shard, r.pos) for r in b.collect()}
    # same permutation regardless of input partitioning
    assert ra == rb
    # shards in range and roughly balanced (hash split of 200 keys)
    per = {}
    for s, _ in ra.values():
        assert 0 <= s < 4
        per[s] = per.get(s, 0) + 1
    assert len(per) == 4 and all(n >= 20 for n in per.values())
    # positions dense 1..n within each shard
    by_shard = {}
    for s, p in ra.values():
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_corpus_shuffle_order_uncorrelated_with_shard(spark):
    from vldt_spark.functions.sampling import corpus_shuffle

    df = spark.createDataFrame([(f"k{i}",) for i in range(500)], "doc_id string")
    out = corpus_shuffle(df, "doc_id", 1, seed=0, with_pos=True).collect()
    # with one shard, pos is a full permutation of 1..500 whose order
    # differs from both key order and shard-hash order (distinct salt)
    pos_by_key = {r.doc_id: r.pos for r in out}
    key_order = [pos_by_key[f"k{i}"] for i in range(500)]
    assert key_order != sorted(key_order)
    # distinct seeds give distinct permutations
    out2 = corpus_shuffle(df, "doc_id", 1, seed=1, with_pos=True).collect()
    pos2 = {r.doc_id: r.pos for r in out2}
    assert pos_by_key != pos2


def test_corpus_shuffle_rejects_bad_shards(spark):
    from vldt_spark.functions.sampling import corpus_shuffle

    df = spark.createDataFrame([("a",)], "doc_id string")
    with pytest.raises(ValueError, match="n_shards"):
        corpus_shuffle(df, "doc_id", 0)


def test_suite_mixture_gap_guard(spark):
    from vldt_spark.checks.suite import Suite, expect

    # token mass: a=600, b=300, c=100 (+ an unnamed source and junk rows
    # that must not count) -> achieved shares 0.6/0.3/0.1
    rows = [("a", 600), ("b", 300), ("c", 60), ("c", 40),
            ("other", 5000), ("a", None), (None, 100), ("b", 0)]
    df = spark.createDataFrame(rows, "source string, n_tok int")
    shares = {"a": 0.5, "b": 0.3, "c": 0.2}  # worst gap = |0.6-0.5| = 0.1
    report = {
        r["threshold"]: (r["metric"], r["passed"])
        for r in Suite(
            [
                expect.mixture_gap_below("source", "n_tok", shares, 0.15),
                expect.mixture_gap_below("source", "n_tok", shares, 0.05),
            ]
        ).run(df).collect()
    }
    assert abs(report[0.15][0] - 0.1) < 1e-9 and report[0.15][1] is True
    assert abs(report[0.05][0] - 0.1) < 1e-9 and report[0.05][1] is False

    # a named source with zero mass counts as achieved=0 (gap = its target)
    df2 = spark.createDataFrame([("a", 100)], "source string, n_tok int")
    rep2 = Suite(
        [expect.mixture_gap_below("source", "n_tok", {"a": 1.0, "b": 1.0}, 0.6)]
    ).run(df2).first()
    assert abs(rep2["metric"] - 0.5) < 1e-9 and rep2["passed"] is True

    # empty / no named mass: NaN metric, failed
    rep3 = Suite(
        [expect.mixture_gap_below("source", "n_tok", {"zzz": 1.0}, 0.5)]
    ).run(df2).first()
    assert rep3["metric"] != rep3["metric"] and rep3["passed"] is False

    with pytest.raises(ValueError, match="target_shares"):
        expect.mixture_gap_below("source", "n_tok", {}, 0.5)
