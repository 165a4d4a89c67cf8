"""B6 — referential integrity via anti-joins.

Generalizes nested-model existence (reference A15: a dict input must
construct a valid inner model) to a foreign-key-into-dimension constraint.

Scale strategy: never anti-join the 10^12-row fact table directly when the
FK column is low-cardinality — aggregate to ``distinct(fk)`` first (a
partial-agg shuffle of dim-like size) and anti-join the *distinct values*
against the dim.  The dim side is not deduplicated: a left anti join
returns the same rows whatever the duplicate or NULL dim keys are, and
without a distinct AQE can broadcast a small dim as it stands, so the
anti join runs map-side.  For high-cardinality FKs use
``ri_violation_rows``, which lets Catalyst pick broadcast vs sort-merge
anti-join (AQE re-plans at runtime).

When the dim's keys are too many to broadcast, the Bloom screen
(``ri_bloom_screen``) broadcasts a bitmap of them instead.  The bit
positions, and setting and testing them, live in ``_bloom_bits``,
``_bloom_set`` and ``_bloom_test`` and nowhere else: the build folds
with ``mapInArrow``, and every probe (this module's screen and flag,
the screened duplicated-n-gram fraction in functions/dedup.py) tests
the same positions over uint64 key hashes, so the two sides cannot
disagree.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vldt_spark.errors import session_columns

# number of partial bitmaps a build folds: bounds what the driver
# collects (n_bits/8 bytes each) even on a 10k-split dim scan
_BUILD_PARTITIONS = 16


def invalid_fk_values(fact: DataFrame, fk: str, dim: DataFrame, dim_key: str) -> DataFrame:
    """Distinct non-null FK values absent from the dimension (small output).

    NULL semantics: a NULL FK is never an RI violation (a required FK
    reports it as a ``not_null`` violation), and a NULL dimension key
    matches nothing, so it cannot make any FK value valid.  The result does
    not depend on how the fact table is partitioned.

    The dim is anti-joined as it stands: AQE broadcasts a small dim at
    runtime and falls back to a shuffle for a large one — the safe
    default given this function is reachable from ``engine.run`` for any
    ``ref=`` field."""
    fk_col, nonnull, dim_fk = session_columns(
        fact.sparkSession,
        ("invalid_fk_values", fk, dim_key),
        lambda: (F.col(fk), F.col(fk).isNotNull(), F.col(dim_key).alias(fk)),
    )
    vals = fact.select(fk_col).where(nonnull).distinct()
    return vals.join(dim.select(dim_fk), fk, "left_anti")


def ri_violation_rows(fact: DataFrame, fk: str, dim: DataFrame, dim_key: str) -> DataFrame:
    """Fact rows whose FK has no match in the dim (LEFT ANTI JOIN).

    AQE picks a broadcast or a shuffled anti join.  Null FKs are not RI
    violations (they are not_null violations), and duplicate or NULL dim
    keys change nothing.
    """
    d = dim.select(F.col(dim_key).alias(fk))
    return fact.where(F.col(fk).isNotNull()).join(d, fk, "left_anti")


def _bloom_bits(h: np.ndarray, n_bits: int, n_hashes: int) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """(byte index, bit mask) of each of the k bit positions of the uint64
    hashes ``h``: Kirsch–Mitzenmacher double hashing over one 64-bit hash,
    pos_i = (h_lo + i·(h_hi|1)) mod n_bits."""
    lo = h & np.uint64(0xFFFFFFFF)
    hi = (h >> np.uint64(32)) | np.uint64(1)
    nb = np.uint64(n_bits)
    for i in range(n_hashes):
        pos = (lo + np.uint64(i) * hi) % nb
        yield (pos >> np.uint64(3)).astype(np.int64), np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)


def _bloom_set(bitmap: np.ndarray, h: np.ndarray, n_hashes: int) -> None:
    """Set the bits of the uint64 hashes ``h`` in the uint8 ``bitmap``."""
    for byte, mask in _bloom_bits(h, bitmap.size * 8, n_hashes):
        np.bitwise_or.at(bitmap, byte, mask)


def _bloom_test(bitmap: np.ndarray, h: np.ndarray, n_hashes: int) -> np.ndarray:
    """True where every bit of the uint64 hash is set: the key MAY be in
    the built set.  False is definite (Bloom filters have no false
    negatives)."""
    member = np.ones(h.size, dtype=bool)
    for byte, mask in _bloom_bits(h, bitmap.size * 8, n_hashes):
        member &= (bitmap[byte] & mask).astype(bool)
    return member


def _key_hash(key: str) -> Column:
    """The 64-bit hash both Bloom sides use.  Keys are hashed by their
    CANONICAL STRING form so the build and probe sides agree even when
    the FK and dim-key integer widths differ (``xxhash64`` is
    type-width-sensitive: int 5 and bigint 5 hash differently raw)."""
    return F.xxhash64(F.col(key).cast("string"))


def _bloom_member(spark: SparkSession, bitmap_bytes: bytes, n_hashes: int) -> Callable[[Column], Column]:
    """A scalar Arrow UDF over a 64-bit hash column: ``_bloom_test``
    against the broadcast bitmap.  Only the hash crosses into Python."""
    bc = spark.sparkContext.broadcast(bitmap_bytes)

    @F.arrow_udf("boolean")
    def member(h: pa.Array) -> pa.Array:
        bitmap = np.frombuffer(bc.value, dtype=np.uint8)
        return pa.array(_bloom_test(bitmap, h.to_numpy().view(np.uint64), n_hashes))

    return member


def bloom_size_bits(
    dim: DataFrame,
    dim_key: str,
    *,
    n_hashes: int = 5,
    target_fill: float = 0.2,
    min_bits: int = 1 << 23,
) -> int:
    """Size a Bloom bitmap from the dim's approximate key cardinality.

    A FIXED bitmap size silently degrades exactly in the regime the
    screen exists for: at 1.5M keys the old 1<<23 default fills ~59%
    and misses ~7% of true violations. Solving fill = 1 - exp(-k·n/m)
    for m at a target fill gives m = ceil(k·n / -ln(1-target_fill));
    target_fill=0.2 ⇒ fpp = 0.2^k ≈ 3e-4 at k=5, and the miss rate
    stays bounded as the dim grows instead of decaying with it. The
    result is rounded up to a power of two and floored at ``min_bits``
    (1 MiB) so small dims keep the proven default bitmap."""
    import math

    row = (
        dim.where(F.col(dim_key).isNotNull())
        .agg(F.approx_count_distinct(dim_key).alias("n"))
        .first()
    )
    n = int(row["n"]) if row and row["n"] else 1
    need = int(math.ceil(n_hashes * n / -math.log(1.0 - target_fill)))
    return max(min_bits, 1 << (need - 1).bit_length())


def bloom_build(
    dim: DataFrame,
    dim_key: str,
    *,
    n_bits: int | None = None,
    n_hashes: int = 5,
) -> bytes:
    """Build a Bloom-filter bitmap of the dimension's key set.

    ``n_bits=None`` (default) sizes the bitmap from the dim's
    approximate key cardinality (``bloom_size_bits``) so the advertised
    miss rate holds at ANY dim size; pass an explicit power of two to
    pin the broadcast size. An explicit value whose expected fill
    exceeds 50% (per-absent-key miss ≥ ~3% at k=5) raises a warning.

    Distributed build: keys are hashed JVM-side (``xxhash64`` of the
    key's string form, ``_key_hash``), and ``bloom_build_hashed`` folds
    the hashes into at most 16 partial bitmaps that the driver ORs.
    """
    hashed = dim.where(F.col(dim_key).isNotNull()).select(_key_hash(dim_key).alias("__h"))
    return bloom_build_hashed(hashed, "__h", n_bits=n_bits, n_hashes=n_hashes)


def bloom_build_hashed(
    df: DataFrame,
    hash_col: str,
    *,
    n_bits: int | None = None,
    n_hashes: int = 5,
) -> bytes:
    """``bloom_build`` over a column that ALREADY carries the 64-bit key
    hashes (``xxhash64`` computed upstream — e.g. when the same hashes
    also feed the probe side, as in the screened duplicated-n-gram
    fraction).

    Each of 16 partitions folds its hashes into a local bitmap with one
    vectorized ``_bloom_set`` per Arrow batch (``mapInArrow``), and the
    ≤ 16 partial bitmaps (n_bits/8 bytes each) are OR-ed driver-side —
    bounded driver data regardless of row count (the repartition caps
    the partial count even on a 10k-split scan)."""
    if n_bits is None:
        n_bits = bloom_size_bits(df, hash_col, n_hashes=n_hashes)
    hashed = (
        df.select(F.col(hash_col).alias("__h"))
        .where(F.col("__h").isNotNull())
        .repartition(_BUILD_PARTITIONS)
    )
    n_bytes = n_bits // 8

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bitmap = np.zeros(n_bytes, dtype=np.uint8)
        any_rows = False
        for batch in batches:
            if batch.num_rows:
                any_rows = True
                _bloom_set(bitmap, batch.column(0).to_numpy().view(np.uint64), n_hashes)
        if any_rows:
            yield pa.RecordBatch.from_arrays([pa.array([bitmap.tobytes()], pa.binary())], ["bitmap"])

    merged = np.zeros(n_bytes, dtype=np.uint8)
    for row in hashed.mapInArrow(fold, "bitmap binary").collect():
        merged |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    fill = float(np.unpackbits(merged).sum()) / n_bits
    if fill > 0.5:
        import warnings

        warnings.warn(
            f"bloom_build: bitmap fill {fill:.2f} > 0.5 at n_bits={n_bits} "
            f"(per-absent-key miss ≈ fill^{n_hashes}); pass n_bits=None to "
            "auto-size from the dim cardinality",
            RuntimeWarning,
            stacklevel=2,
        )
    return merged.tobytes()


def ri_bloom_screen(
    fact: DataFrame,
    fk: str,
    dim: DataFrame,
    dim_key: str,
    *,
    n_bits: int | None = None,
    n_hashes: int = 5,
) -> DataFrame:
    """Map-side Bloom RI screen: fact rows whose FK is DEFINITELY absent
    from the dimension — zero shuffle of the fact table.

    The 100 TB story this exists for: when the dim's distinct keys are
    too many to broadcast, the exact check (``ri_violation_rows``) is a
    sort-merge anti-join that shuffles the ENTIRE fact table on the FK.
    A Bloom bitmap of the dim (1 MiB default) rides a broadcast instead,
    and every fact partition screens locally: the ``bloom_probe_flag``
    test used as a filter, so only the FK hash crosses into Python.

    Semantics are one-sided, stated precisely:
    - every reported row IS a true violation (a key that misses any of
      the k bits cannot be in the dim — Bloom filters have no false
      negatives on membership);
    - a true violation can be MISSED with probability ≈ fill^k (the
      false-positive rate; the default auto-sized bitmap targets 20%
      fill ⇒ ≈ 3e-4 at k=5, bounded at ANY dim cardinality — and far
      lower on small dims where the 1 MiB floor dominates), so this is
      a screen, not the exact check — escalate survivors to
      ``ri_violation_rows`` when exactness is required.

    Null FKs are not RI violations (they are not_null violations).
    """
    bitmap = bloom_build(dim, dim_key, n_bits=n_bits, n_hashes=n_hashes)
    member = _bloom_member(fact.sparkSession, bitmap, n_hashes)
    return fact.where(F.col(fk).isNotNull()).where(~member(_key_hash(fk)))


def bloom_probe_flag(
    df: DataFrame,
    key: str,
    bitmap_bytes: bytes,
    *,
    n_hashes: int = 5,
    flag_col: str = "maybe_member",
) -> DataFrame:
    """Map-side Bloom membership PROBE that appends a boolean instead of
    filtering — the shape incremental pipelines need, where both branches
    of the answer route somewhere (definite-miss rows skip the exact
    confirmation join entirely; possible-hit rows escalate to it).

    ``flag_col=False`` rows are DEFINITELY absent from the built key set
    (no false negatives); ``True`` rows are *possibly* present and must be
    confirmed exactly when the pipeline needs two-sided truth. Same bit
    positions (``_bloom_bits``) and key hash (``_key_hash``) as
    ``bloom_build``.  Zero shuffle: one broadcast of the bitmap and one
    scalar Arrow UDF over ``xxhash64(cast(key as string))``, so only the
    hash crosses into Python, not the rows.
    """
    member = _bloom_member(df.sparkSession, bitmap_bytes, n_hashes)
    return df.withColumn(flag_col, member(_key_hash(key)))


def ri_report(fact: DataFrame, fk: str, dim: DataFrame, dim_key: str) -> DataFrame:
    """One row per invalid FK value with its row count — the shape the
    verdict/lineage tables ingest."""
    bad = invalid_fk_values(fact, fk, dim, dim_key)
    return (
        fact.join(F.broadcast(bad), fk, "left_semi")
        .groupBy(fk)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.desc("n_rows"))
    )
