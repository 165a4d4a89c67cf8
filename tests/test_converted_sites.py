"""The Python sites that went to Arrow or native plans.

The one Bloom kernel (`checks.referential._bloom_bits`): bitmaps pinned
byte for byte, every probe identical under every Arrow batch size,
shuffle width, AQE setting and row order, and no other module computing
bit positions.  The native `token_bigram_topk` against a pure-Python
reference: NULL, empty and length-1 arrays, NULL elements and
out-of-vocab ids breaking both pairs they belong to, array<bigint>
tokens, keys past int32, and the same table under every setting.  The
RI anti joins over duplicate and NULL dim keys."""

import ast
import hashlib
import pathlib
import random
import warnings
from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from vldt_spark.checks.referential import (
    bloom_build,
    bloom_build_hashed,
    bloom_probe_flag,
    invalid_fk_values,
    ri_bloom_screen,
    ri_violation_rows,
)
from vldt_spark.functions.dedup import (
    duplicated_ngram_fraction,
    duplicated_ngram_fraction_screened,
)
from vldt_spark.functions.tokens import token_bigram_topk

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
# (maxRecordsPerBatch, shuffle partitions, AQE); None = the session default
SETTINGS = [(b, p, a) for b in (1, 3, None) for p in (1, 7) for a in ("true", "false")]


def _dim(spark):
    return spark.range(0, 5000).select((F.col("id") * 7 + 3).alias("k"))


def _hashed(spark):
    return spark.range(0, 3000).select(F.xxhash64(F.col("id").cast("string")).alias("h"))


# sha256 of each bitmap as the former mapInPandas build laid it out: the
# bit layout is the format every probe reads
PINNED = {
    "int_16": (
        lambda s: bloom_build(_dim(s), "k", n_bits=1 << 16),
        "57c5946cc1ce46eeb7d14b093a0a3006f9cd784d4c362f36a70a5b1db5811f6f",
    ),
    "int_auto": (
        lambda s: bloom_build(_dim(s), "k"),
        "2c6cf0271632580c0fb21f82756774b579431152dc765ad0f3126c334881d763",
    ),
    "string_null_12_k3": (
        lambda s: bloom_build(
            s.createDataFrame([(f"key{i}",) for i in range(300)] + [(None,)], "k string"),
            "k", n_bits=1 << 12, n_hashes=3,
        ),
        "728bc393460cfd96526a56f9439d95122a42e1b52ed3928c3cd1bf0744a199d1",
    ),
    "hashed_13": (
        lambda s: bloom_build_hashed(_hashed(s), "h", n_bits=1 << 13),
        "7b314afc85d70ac5ebe5c2dd90f1b1f0fbbad781c85cd21b578ac7dd2484bc64",
    ),
    "hashed_auto": (
        lambda s: bloom_build_hashed(_hashed(s), "h"),
        "c5336190308b40d58611859ee7dee7e2146b5b7afb60cb0997b05003b26817f6",
    ),
}


@pytest.mark.parametrize("case", sorted(PINNED))
def test_bitmap_bytes_are_pinned(spark, case):
    build, digest = PINNED[case]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # int_16 is deliberately over-filled
        assert hashlib.sha256(build(spark)).hexdigest() == digest


@contextmanager
def _settings(spark, batch, partitions, aqe):
    keys = (BATCH_CONF, "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    old = {k: spark.conf.get(k) for k in keys}
    try:
        if batch is not None:
            spark.conf.set(BATCH_CONF, str(batch))
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_flag_and_screen_are_invariant(spark):
    # a 1 KiB, 2-hash bitmap over 5000 keys is saturated enough that the
    # flag is True on many absent keys: the false positives must not move
    dim = spark.range(0, 5000).select(F.col("id").alias("k"))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        bitmap = bloom_build(dim, "k", n_bits=1 << 13, n_hashes=2)
    rows = [(i, i * 3 if i % 11 else None) for i in range(4000)]
    results = []
    for i, (batch, parts, aqe) in enumerate(SETTINGS):
        random.Random(i).shuffle(rows)
        with _settings(spark, batch, parts, aqe):
            probe = spark.createDataFrame(rows, "rid long, key long").repartition(3)
            flag = {r["rid"]: r["maybe_member"] for r in
                    bloom_probe_flag(probe, "key", bitmap, n_hashes=2).collect()}
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                screen = sorted(r["rid"] for r in ri_bloom_screen(
                    probe, "key", dim, "k", n_bits=1 << 13, n_hashes=2).collect())
        results.append((flag, screen))
    flag, screen = results[0]
    assert all(flag[rid] for rid, key in rows if key is not None and key < 5000)
    assert 0 < sum(flag.values()) < len(rows)
    # the screen is the flag's definite misses among non-NULL keys
    assert screen == sorted(rid for rid, key in rows if key is not None and not flag[rid])
    assert all(r == results[0] for r in results)


WORDS = "alpha beta gamma delta eps zeta eta theta iota kappa".split()


def test_screened_ngram_fraction_is_invariant(spark):
    rnd = random.Random(7)
    docs = [(i, " ".join(rnd.choice(WORDS) for _ in range(rnd.randint(0, 12))))
            for i in range(300)] + [(300, None), (301, "")]
    exact = None
    results = []
    for i, (batch, parts, aqe) in enumerate(SETTINGS):
        random.Random(i).shuffle(docs)
        with _settings(spark, batch, parts, aqe):
            df = spark.createDataFrame(docs, "doc_id int, text string")
            if exact is None:
                exact = sorted(tuple(r) for r in duplicated_ngram_fraction(df, shingle_k=2).collect())
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")  # the saturated bitmap
                results.append([
                    sorted(tuple(r) for r in duplicated_ngram_fraction_screened(
                        df, shingle_k=2, **kw).collect())
                    for kw in ({}, {"n_bits": 64, "n_hashes": 2})
                ])
    sized, saturated = results[0]
    assert sized == exact
    # saturated: only over-counts, on the same rows
    assert [r[:2] for r in saturated] == [r[:2] for r in exact]
    assert all(s[2] >= e[2] for s, e in zip(saturated, exact))
    assert saturated != exact
    assert all(r == results[0] for r in results)


def test_screened_ngram_fraction_schema(spark):
    df = spark.createDataFrame([(1, "a b c"), (2, None)], "doc_id int, text string")
    out = duplicated_ngram_fraction_screened(df, shingle_k=2)
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema] == [
        ("doc_id", "int", True),
        ("n_shingles", "bigint", False),
        ("n_duplicated", "bigint", False),
        ("dup_fraction", "double", False),
    ]
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2, 0, 0.0), (2, 0, 0, 0.0)]


def py_topk(arrays, vocab_size, k):
    """[(rank, a, b, cnt)]: adjacent in-vocab pairs, ranked by cnt DESC,
    a ASC, b ASC."""
    cnt = Counter()
    for arr in arrays:
        for a, b in zip(arr or [], (arr or [])[1:]):
            if all(x is not None and 0 <= x < vocab_size for x in (a, b)):
                cnt[a, b] += 1
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(i + 1, a, b, c) for i, ((a, b), c) in enumerate(ranked)]


def _topk(spark, arrays, vocab_size, k, elem="int"):
    rows = [(f"d{i}", a) for i, a in enumerate(arrays)]
    df = spark.createDataFrame(rows, f"doc_id string, tokens array<{elem}>")
    return [tuple(r) for r in token_bigram_topk(df, vocab_size=vocab_size, k=k).collect()]


def test_bigram_edge_rows(spark):
    V = 10
    arrays = [
        None, [], [3], [None], [None, None],
        [1, None, 2],  # (1, NULL) and (NULL, 2) both dropped
        [1, V, 2],  # (1, V) and (V, 2) both dropped
        [-1, 4, 5],  # (-1, 4) dropped, (4, 5) kept
        [4, 5, 4, 5],
        [9, 9, 9],
    ]
    got = _topk(spark, arrays, V, 10)
    assert got == py_topk(arrays, V, 10)
    assert got == [(1, 4, 5, 3), (2, 9, 9, 2), (3, 5, 4, 1)]
    assert _topk(spark, [None, [], [7], [1, None]], V, 5) == []


def test_bigrams_of_bigint_tokens_and_keys_past_int32(spark):
    V = 100_000  # a * V exceeds 2**31 - 1 for every a > 21474
    arrays = [
        [99_999, 99_998, 99_999, 99_998],
        [50_000, 2**40, 7, 8],  # 2**40 is out of vocab in array<bigint>
        [7, 8, None, 99_999],
        [V, 0, 1],
    ]
    want = py_topk(arrays, V, 5)
    assert want[:2] == [(1, 7, 8, 2), (2, 99_999, 99_998, 2)]  # a tie, a ASC
    assert _topk(spark, arrays, V, 5, elem="bigint") == want
    assert _topk(spark, arrays[:1] + arrays[2:], V, 5) == py_topk(arrays[:1] + arrays[2:], V, 5)


def test_bigrams_are_invariant(spark):
    V = 6
    rnd = random.Random(3)
    choices = [None, -1, 0, 1, 2, 3, 4, 5, V, V + 1]
    arrays = [
        None if i % 13 == 0 else [rnd.choice(choices) for _ in range(rnd.randint(0, 8))]
        for i in range(400)
    ]
    want = py_topk(arrays, V, 12)
    assert len(want) == 12
    for i, (batch, parts, aqe) in enumerate(SETTINGS):
        random.Random(i).shuffle(arrays)
        with _settings(spark, batch, parts, aqe):
            assert _topk(spark, arrays, V, 12) == want, (batch, parts, aqe)


def test_ri_anti_joins_ignore_duplicate_and_null_dim_keys(spark):
    fact = spark.createDataFrame([(1,), (2,), (9,), (None,), (9,), (7,), (3,)], "fk int")
    dim = spark.createDataFrame([(1,), (2,), (2,), (None,), (3,), (None,), (3,)], "pk int")
    clean = dim.dropna().distinct()
    bad = sorted(r["fk"] for r in invalid_fk_values(fact, "fk", dim, "pk").collect())
    rows = sorted(r["fk"] for r in ri_violation_rows(fact, "fk", dim, "pk").collect())
    assert bad == [7, 9]
    assert rows == [7, 9, 9]
    assert bad == sorted(r["fk"] for r in invalid_fk_values(fact, "fk", clean, "pk").collect())
    assert rows == sorted(r["fk"] for r in ri_violation_rows(fact, "fk", clean, "pk").collect())


# -- architecture ------------------------------------------------------------


def _bloom_math(tree):
    """(line, text) of each Bloom bit-position computation in ``tree``:
    ``np.uint64(0xFFFFFFFF)`` (the low-word mask) or ``(lo + i * hi) % n``
    with a non-constant modulus."""
    for n in ast.walk(tree):
        mask = (
            isinstance(n, ast.Call)
            and isinstance(n.func, (ast.Attribute, ast.Name))
            and getattr(n.func, "attr", getattr(n.func, "id", None)) == "uint64"
            and any(isinstance(a, ast.Constant) and a.value == 0xFFFFFFFF for a in n.args)
        )
        double_hash = (
            isinstance(n, ast.BinOp)
            and isinstance(n.op, ast.Mod)
            and not isinstance(n.right, ast.Constant)
            and isinstance(n.left, ast.BinOp)
            and isinstance(n.left.op, ast.Add)
            and isinstance(n.left.right, ast.BinOp)
            and isinstance(n.left.right.op, ast.Mult)
        )
        if mask or double_hash:
            yield n.lineno, ast.unparse(n)


def test_only_the_bloom_helper_computes_bit_positions():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "vldt_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        if path.relative_to(pkg) == pathlib.Path("checks/referential.py"):
            (helper,) = [
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "_bloom_bits"
            ]
            assert len(list(_bloom_math(helper))) == 2
            tree = ast.Module(body=[n for n in tree.body if n is not helper], type_ignores=[])
        offenders += [(str(path.relative_to(pkg)), *r) for r in _bloom_math(tree)]
    assert offenders == []
