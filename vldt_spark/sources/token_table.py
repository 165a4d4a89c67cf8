"""Deterministic synthetic token-sequence tables (FIXTURES.md F1).

The flagship input shape (BASELINE.json ``input_hint``):
    doc_id: string, tokens: array<int>, n_tok: int, source: string

Generation is **fully distributed and seed-deterministic**: ``spark.range``
plus pure Catalyst expressions (xxhash64-derived uniforms, Box-Muller
normals, ``sequence``+``transform`` token arrays). No driver-side data, no
``rand()`` (which is partition-order dependent) — the same (seed, n) always
produces byte-identical rows regardless of parallelism, which is what makes
the local[8]-vs-local[32] scaling comparison apples-to-apples.

Violation injections (rates from FIXTURES.md F1):
  ~0.1% duplicate doc_ids    ~0.05% null doc_ids
  ~0.1% out-of-vocab token   ~0.1% n_tok mismatch
  ~0.1% source not in the sources dim (RI violations)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vldt_spark.frames import local_frame

VOCAB = 50257
SOURCES = ["web", "books", "code", "wiki", "news"]
#: cumulative zipf-ish mix, "web" hot at 70% → drives skew handling (B14)
_CUM = [0.70, 0.80, 0.88, 0.95, 1.0]


def _u(seed: int, *cols: Column) -> Column:
    """Deterministic uniform in [0, 1) from xxhash64."""
    h = F.xxhash64(F.lit(seed), *cols)
    return (F.pmod(h, F.lit(1_000_000)).cast("double")) / 1_000_000.0


def _lognormal_len(seed: int, idx: Column, mu: float, sigma: float) -> Column:
    """Box-Muller → clipped lognormal token length in [1, 2048]."""
    u1 = _u(seed * 31 + 1, idx)
    u2 = _u(seed * 31 + 2, idx)
    # guard log(0)
    u1 = F.greatest(u1, F.lit(1e-9))
    z = F.sqrt(-2.0 * F.log(u1)) * F.cos(F.lit(2.0 * math.pi) * u2)
    ln = F.exp(F.lit(mu) + F.lit(sigma) * z)
    return F.least(F.greatest(ln.cast("int"), F.lit(1)), F.lit(2048))


def _source_col(seed: int, idx: Column, cum=None) -> Column:
    cum = cum or _CUM
    u = _u(seed * 31 + 3, idx)
    expr = F.lit(SOURCES[-1])
    for name, threshold in reversed(list(zip(SOURCES[:-1], cum[:-1]))):
        expr = F.when(u < threshold, F.lit(name)).otherwise(expr)
    return expr


def _slot(seed: int, idx: Column, tag: int, per_10k: int) -> Column:
    """True for ~per_10k/10000 of rows, deterministically."""
    return F.pmod(F.xxhash64(F.lit(seed * 131 + tag), idx), F.lit(10_000)) < per_10k


def token_sequences(
    spark: SparkSession,
    n: int = 10_000,
    *,
    seed: int = 42,
    mu: float = 5.0,
    sigma: float = 1.0,
    partitions: int | None = None,
    clean: bool = False,
) -> DataFrame:
    """The flagship token table with injected violations (clean=True for a
    violation-free copy)."""
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    idx = F.col("id")

    doc_id = F.format_string("doc-%012d", idx)
    if not clean:
        # ~0.1% duplicates: reuse the previous row's id
        doc_id = F.when(
            _slot(seed, idx, 1, 10) & (idx > 0),
            F.format_string("doc-%012d", idx - 1),
        ).otherwise(doc_id)
        # ~0.05% nulls
        doc_id = F.when(_slot(seed, idx, 2, 5), F.lit(None)).otherwise(doc_id)

    length = _lognormal_len(seed, idx, mu, sigma)
    tokens = F.transform(
        F.sequence(F.lit(1), length),
        lambda j: F.pmod(F.xxhash64(F.lit(seed), idx, j), F.lit(VOCAB)).cast("int"),
    )
    if not clean:
        # ~0.1% rows get an out-of-vocab token at position 0
        tokens = F.when(
            _slot(seed, idx, 3, 10),
            F.concat(F.array(F.lit(VOCAB + 7).cast("int")), F.slice(tokens, 2, 2048)),
        ).otherwise(tokens)

    n_tok = F.size(tokens)
    if not clean:
        # ~0.1% cross-field mismatches
        n_tok = F.when(_slot(seed, idx, 4, 10), n_tok + 1).otherwise(n_tok)

    source = _source_col(seed, idx)
    if not clean:
        # ~0.1% sources outside the dim table (RI violations)
        source = F.when(_slot(seed, idx, 5, 10), F.lit("crawl_unknown")).otherwise(source)

    return df.select(
        doc_id.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.cast("int").alias("n_tok"),
        source.alias("source"),
    )


def token_sequences_ref(
    spark: SparkSession, n: int = 10_000, *, seed: int = 42, **kw
) -> DataFrame:
    """Reference copy: byte-identical tokens except a known ~0.1% perturbed
    subset — the oracle for the per-row token-array-equality invariant (B8)."""
    base = token_sequences(spark, n, seed=seed, clean=True, **kw)
    idx = F.xxhash64(F.col("doc_id"))
    perturb = F.pmod(F.xxhash64(F.lit(seed * 977 + 8), idx), F.lit(10_000)) < 10
    tokens = F.when(
        perturb,
        F.concat(F.array(F.lit(1).cast("int")), F.slice(F.col("tokens"), 2, 2048)),
    ).otherwise(F.col("tokens"))
    return base.select("doc_id", tokens.alias("tokens"), "n_tok", "source")


def token_sequences_shifted(
    spark: SparkSession, n: int = 10_000, *, seed: int = 43
) -> DataFrame:
    """Token-length distribution shifted (μ=5.4) + changed source mix —
    positive case for drift detection (B7)."""
    df = spark.range(0, n, 1)
    idx = F.col("id")
    length = _lognormal_len(seed, idx, 5.4, 1.0)
    tokens = F.transform(
        F.sequence(F.lit(1), length),
        lambda j: F.pmod(F.xxhash64(F.lit(seed), idx, j), F.lit(VOCAB)).cast("int"),
    )
    source = _source_col(seed, idx, cum=[0.40, 0.60, 0.75, 0.90, 1.0])
    return df.select(
        F.format_string("doc-%012d", idx).alias("doc_id"),
        tokens.alias("tokens"),
        F.size(tokens).cast("int").alias("n_tok"),
        source.alias("source"),
    )


def sources_dim(spark: SparkSession) -> DataFrame:
    """The 5-row sources dimension (target of the anti-join RI check, B6)."""
    licenses = ["common-crawl", "public-domain", "permissive", "cc-by-sa", "licensed"]
    return local_frame(spark, zip(SOURCES, licenses), "source string, license string")
