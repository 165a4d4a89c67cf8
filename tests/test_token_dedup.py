"""Token-native dedup family: exact-dup, MinHash-LSH, and duplicated-
n-gram fraction keyed on token ids (the north-rule payload), all riding
the canonical injective rendering (vldt_spark/functions/dedup.py,
token-native section)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def seqs(spark):
    # 1/2 exact duplicates; 3 a near-dup of 1 (one token changed);
    # 4 unrelated; 5 empty; 6/7 short (< shingle_k) identical pair;
    # 8 shares half its 3-grams with 4 (duplicated-fraction probe).
    rows = [
        (1, [5, 6, 7, 8, 9, 10, 11, 12]),
        (2, [5, 6, 7, 8, 9, 10, 11, 12]),
        (3, [5, 6, 7, 8, 9, 10, 11, 99]),
        (4, [100, 101, 102, 103, 104, 105]),
        (5, []),
        (6, [42, 43]),
        (7, [42, 43]),
        (8, [100, 101, 102, 900, 901, 902]),
    ]
    return spark.createDataFrame(rows, "doc_id long, tokens array<int>")


def test_canonical_text_injective(spark):
    from vldt_spark.functions.dedup import tokens_canonical_text

    df = spark.createDataFrame(
        [([1, 23],), ([12, 3],), ([123],), ([],)], "tokens array<int>"
    )
    out = [r[0] for r in df.select(tokens_canonical_text(F.col("tokens"))).collect()]
    assert out == ["1 23", "12 3", "123", ""]
    assert len(set(out)) == 4  # no collisions


def test_token_exact_duplicates_and_dedup(seqs):
    from vldt_spark.functions.dedup import token_dedup_exact, token_exact_duplicates

    # both hash paths find identical groups: the array-native 128-bit
    # xxhash64 key (scale path) and the md5 canonical fingerprint
    # (oracle-portable path)
    for hash_fn in ("xxhash64", "md5"):
        groups = {
            tuple(r["doc_ids"]): r["n_docs"]
            for r in token_exact_duplicates(seqs, hash_fn=hash_fn).collect()
        }
        assert groups == {(1, 2): 2, (6, 7): 2}, hash_fn

        kept = sorted(
            r["doc_id"] for r in token_dedup_exact(seqs, hash_fn=hash_fn).collect()
        )
        # min-id survivors; 2 and 7 dropped
        assert kept == [1, 3, 4, 5, 6, 8], hash_fn

    # bounded id buffer: cap honored
    capped = token_exact_duplicates(seqs, max_ids=1).collect()
    assert all(len(r["doc_ids"]) == 1 for r in capped)


def test_token_sequence_key_order_and_width_sensitive(spark):
    """The array-native key must distinguish order and element boundaries
    (the failure mode a naive concat-then-hash key has)."""
    from vldt_spark.functions.dedup import token_sequence_key

    df = spark.createDataFrame(
        [([1, 23],), ([12, 3],), ([23, 1],), ([1, 23],)], "tokens array<int>"
    )
    keys = [r[0] for r in df.select(token_sequence_key(F.col("tokens"))).collect()]
    assert keys[0] == keys[3]
    assert len({keys[0], keys[1], keys[2]}) == 3


def test_token_minhash_pairs_finds_near_dups(seqs):
    from vldt_spark.functions.dedup import token_minhash_pairs

    pairs = token_minhash_pairs(
        seqs, num_hashes=32, bands=8, shingle_k=3, threshold=0.3
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup -> jaccard 1.0
    assert (1, 3) in got or (2, 3) in got  # near dup shares 5/11 shingles
    assert (6, 7) in got  # short-sequence clamped gram still matches
    assert not any({a, b} & {4, 8} and {a, b} & {1, 2, 3} for a, b in got)

    # exact-dup pair estimates 1.0 on both hash paths
    md5_pairs = token_minhash_pairs(
        seqs, num_hashes=32, bands=8, shingle_k=3, threshold=0.3, hash_fn="md5"
    )
    est = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in md5_pairs.collect()}
    assert est[(1, 2)] == 1.0


def test_token_dup_ngram_fraction_exact_vs_screened(seqs):
    from vldt_spark.functions.dedup import token_duplicated_ngram_fraction

    exact = {
        r["doc_id"]: (r["n_shingles"], r["n_duplicated"])
        for r in token_duplicated_ngram_fraction(
            seqs, shingle_k=3, screened=False
        ).collect()
    }
    screened = {
        r["doc_id"]: (r["n_shingles"], r["n_duplicated"])
        for r in token_duplicated_ngram_fraction(
            seqs, shingle_k=3, screened=True
        ).collect()
    }
    # all 8 inputs come back from both forms; screened == exact here
    # (auto-sized bitmap's FP rate is ~0 at this scale)
    assert len(exact) == len(screened) == 8
    assert screened == exact
    # 1/2 fully duplicated; 5 empty -> 0 shingles; 8 shares exactly one
    # 3-gram ("100 101 102") with 4
    assert exact[1] == (6, 6) and exact[2] == (6, 6)
    assert exact[5] == (0, 0)
    assert exact[8] == (4, 1)
    assert exact[4] == (4, 1)


def test_token_minhash_matches_text_minhash_on_rendering(seqs):
    """The token pipeline IS the text pipeline on the canonical rendering —
    pin the equivalence so a text-side change can't silently fork them."""
    from vldt_spark.functions.dedup import (
        minhash_lsh_pairs,
        token_minhash_pairs,
        tokens_canonical_text,
    )

    as_text = seqs.select(
        "doc_id", tokens_canonical_text(F.col("tokens")).alias("text")
    )
    a = {
        (r["id_a"], r["id_b"], r["jaccard_est"])
        for r in token_minhash_pairs(
            seqs, num_hashes=16, bands=4, shingle_k=3, threshold=0.2
        ).collect()
    }
    b = {
        (r["id_a"], r["id_b"], r["jaccard_est"])
        for r in minhash_lsh_pairs(
            as_text, num_hashes=16, bands=4, shingle_k=3, threshold=0.2
        ).collect()
    }
    assert a == b


def test_suite_distinct_seq_frac_guard_arms(spark):
    """Declarative token-dup health guard: pass/fail/empty/approx arms of
    expect.distinct_seq_frac_above (the token twin of
    distinct_text_frac_above, keyed on token_sequence_key)."""
    import math

    from vldt_spark.checks.suite import Suite, expect

    # rows 1/2 share one exact sequence -> 3 distinct / 4 rows = 0.75
    df = spark.createDataFrame(
        [(1, [5, 6]), (2, [5, 6]), (3, [7]), (4, [8, 9, 10])],
        "doc_id long, tokens array<int>",
    )
    rep = {
        r["threshold"]: r
        for r in Suite(
            [
                expect.distinct_seq_frac_above("tokens", 0.5),   # pass
                expect.distinct_seq_frac_above("tokens", 0.75),  # !> -> fail
            ]
        )
        .run(df)
        .collect()
    }
    assert rep[0.5]["passed"] and rep[0.5]["metric"] == 0.75
    assert not rep[0.75]["passed"]

    empty = df.where("doc_id < 0")
    row = Suite([expect.distinct_seq_frac_above("tokens", 0.5)]).run(empty).collect()[0]
    assert not row["passed"] and math.isnan(row["metric"])

    # approx (HLL) mode stays within rsd on a no-dup frame
    row = (
        Suite([expect.distinct_seq_frac_above("tokens", 0.5, approx=True)])
        .run(df.where("doc_id != 2"))
        .collect()[0]
    )
    assert row["passed"] and row["metric"] > 0.9


def test_streaming_duplicate_sequences_cross_batch(spark):
    """A sequence re-crawled under a FRESH doc_id in a later micro-batch
    is flagged by the sequence-keyed monitor (an id-keyed monitor would
    see only new ids). Both hash paths emit the same event set."""
    from vldt_spark.streaming import replay
    from vldt_spark.streaming.stateful import streaming_duplicate_sequences

    rows1 = [(1, [5, 6, 7]), (2, [8, 9]), (3, [10])]
    rows2 = [(100, [5, 6, 7]), (101, [11, 12])]  # 100 re-crawls 1's sequence
    frames = [spark.createDataFrame(rows, "doc_id long, tokens array<int>") for rows in (rows1, rows2)]

    events = {}
    for hash_fn in ("xxhash64", "md5"):
        events[hash_fn] = replay(
            spark,
            frames,
            lambda s: streaming_duplicate_sequences(s, hash_fn=hash_fn),
            mode="update",
        ).collect()
        got = [(r["n_seen"], r["n_new"]) for r in events[hash_fn]]
        assert got == [(2, 1)], hash_fn  # exactly the re-crawled sequence

    # the md5 path's key is the canonical-rendering fingerprint (the
    # oracle-portable form)
    from vldt_spark.functions.dedup import tokens_canonical_text
    from vldt_spark.functions.text import fingerprint

    expected_key = (
        spark.createDataFrame([([5, 6, 7],)], "tokens array<int>")
        .select(fingerprint(tokens_canonical_text(F.col("tokens"))))
        .first()[0]
    )
    assert events["md5"][0]["key"] == expected_key


def test_token_exact_substr_dedup_excises_spans(spark):
    """Repeated >=k-token spans are cut from the id arrays; the cleaned
    rendering splits back to exact ids (injectivity), clean rows pass
    through untouched."""
    from vldt_spark.functions.dedup import token_exact_substr_dedup

    # rows 1/2 share the 4-token span [7, 8, 9, 10] embedded in different
    # contexts; row 3 is clean; row 4 is empty
    rows = [
        (1, [1, 2, 7, 8, 9, 10, 3]),
        (2, [7, 8, 9, 10, 99]),
        (3, [5, 5, 6]),
        (4, []),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = {
        r["doc_id"]: (
            list(r["tokens_clean"]),
            r["n_tok"],
            r["n_removed_tokens"],
            r["n_spans"],
        )
        for r in token_exact_substr_dedup(df, k=4).collect()
    }
    assert out[1] == ([1, 2, 3], 7, 4, 1)
    assert out[2] == ([99], 5, 4, 1)
    assert out[3] == ([5, 5, 6], 3, 0, 0)
    assert out[4] == ([], 0, 0, 0)

    # keep_first leaves the corpus-wide first occurrence intact
    kept = {
        r["doc_id"]: list(r["tokens_clean"])
        for r in token_exact_substr_dedup(df, k=4, keep_first=True).collect()
    }
    assert kept[1] == [1, 2, 7, 8, 9, 10, 3]
    assert kept[2] == [99]


def test_token_decontamination(spark):
    """Sequences sharing token k-grams with a tokenized benchmark are
    flagged and dropped, all original columns preserved."""
    from vldt_spark.functions.dedup import (
        token_contamination_report,
        token_decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, [10, 11, 12, 13], "web"),   # contains bench 3-gram 11,12,13
            (2, [20, 21, 22], "wiki"),      # clean
            (3, [11, 12, 13], "web"),       # IS a bench sequence
        ],
        "doc_id long, tokens array<int>, source string",
    )
    bench = spark.createDataFrame(
        [([11, 12, 13],), ([40, 41, 42],)], "tokens array<int>"
    )
    rep = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["frac"])
        for r in token_contamination_report(
            corpus, bench, shingle_k=3
        ).collect()
    }
    assert rep == {1: (2, 1, 0.5), 3: (1, 1, 1.0)}

    clean = token_decontaminate(corpus, bench, shingle_k=3)
    assert set(clean.columns) == {"doc_id", "tokens", "source"}
    assert [r["doc_id"] for r in clean.collect()] == [2]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_seqs_strat = st.lists(
    st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=10),
    min_size=1,
    max_size=14,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_seqs_strat)
def test_token_dedup_exact_property_vs_python_oracle(spark, arrays):
    """Randomized parity: survivors of token_dedup_exact == the plain-
    Python min-id-per-distinct-sequence oracle, on BOTH hash paths.
    Small id domain (0..50) + short arrays force frequent collisions of
    whole sequences, the interesting regime."""
    from vldt_spark.functions.dedup import token_dedup_exact

    rows = [(i, a) for i, a in enumerate(arrays)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")

    first = {}
    for i, a in rows:
        first.setdefault(tuple(a), i)
    expected = sorted(first.values())

    for hash_fn in ("xxhash64", "md5"):
        kept = sorted(
            r["doc_id"] for r in token_dedup_exact(df, hash_fn=hash_fn).collect()
        )
        assert kept == expected, hash_fn


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_seqs_strat)
def test_token_dup_ngram_property_screened_geq_exact(spark, arrays):
    """One-sided screen invariant under randomized sequences: the Bloom-
    screened duplicated count never UNDERcounts the exact one, and both
    agree on n_shingles."""
    from vldt_spark.functions.dedup import token_duplicated_ngram_fraction

    rows = [(i, a) for i, a in enumerate(arrays)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    exact = {
        r["doc_id"]: (r["n_shingles"], r["n_duplicated"])
        for r in token_duplicated_ngram_fraction(
            df, shingle_k=3, screened=False
        ).collect()
    }
    screened = {
        r["doc_id"]: (r["n_shingles"], r["n_duplicated"])
        for r in token_duplicated_ngram_fraction(
            df, shingle_k=3, screened=True
        ).collect()
    }
    assert set(exact) == set(screened)
    for d in exact:
        assert screened[d][0] == exact[d][0]
        assert screened[d][1] >= exact[d][1]


def test_token_near_dedup_composition(seqs):
    """Near-dup DROP in token space is the existing payload-agnostic
    composition — token_minhash_pairs feeds dedup_near — no wrapper
    needed; pin it so the pieces keep composing."""
    from vldt_spark.functions.dedup import dedup_near, token_minhash_pairs

    pairs = token_minhash_pairs(
        seqs, num_hashes=32, bands=8, shingle_k=3, threshold=0.3
    )
    kept = sorted(r["doc_id"] for r in dedup_near(seqs, pairs).collect())
    # cluster {1,2,3} keeps 1; cluster {6,7} keeps 6; 4/5/8 untouched
    assert kept == [1, 4, 5, 6, 8]


def test_token_unigram_drift_closed_form(spark):
    """PSI/JS/KL over token-id unigram distributions vs a plain-Python
    reference with the drift family's eps smoothing; identical corpora
    drift ~0; OOV ids fold into the -1 bin with mass conserved."""
    import math

    from vldt_spark.checks.drift import token_unigram_drift

    ref_rows = [(1, [0, 0, 1, 2]), (2, [1, 99])]  # 99 OOV at vocab 10
    cur_rows = [(3, [0, 1, 1, 1]), (4, [2, 2])]
    ref = spark.createDataFrame(ref_rows, "doc_id long, tokens array<int>")
    cur = spark.createDataFrame(cur_rows, "doc_id long, tokens array<int>")

    def probs(rows, vocab=10, eps=1e-9):
        cnt = {}
        for _, toks in rows:
            for t in toks:
                b = t if 0 <= t < vocab else -1
                cnt[b] = cnt.get(b, 0) + 1
        tot = sum(cnt.values())
        return cnt, tot, eps

    rc, rt, eps = probs(ref_rows)
    cc, ct, _ = probs(cur_rows)
    bins = set(rc) | set(cc)
    psi = js = kl = 0.0
    for b in bins:
        p = rc.get(b, 0) / rt + eps
        q = cc.get(b, 0) / ct + eps
        m = (p + q) / 2
        psi += (p - q) * math.log(p / q)
        js += (p * math.log(p / m) + q * math.log(q / m)) / 2
        kl += p * math.log(p / q)

    row = token_unigram_drift(ref, cur, 10).collect()[0]
    assert row["psi"] == round(psi, 6)
    assert row["js"] == round(js, 6)
    assert row["kl"] == round(kl, 6)

    same = token_unigram_drift(ref, ref, 10).collect()[0]
    assert abs(same["psi"]) < 1e-5 and abs(same["js"]) < 1e-5
