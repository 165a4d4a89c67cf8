"""B6 — referential integrity via anti-joins.

Generalizes nested-model existence (reference A15: a dict input must
construct a valid inner model) to a foreign-key-into-dimension constraint.

Scale strategy: never anti-join the 10^12-row fact table directly when the
FK column is low-cardinality — aggregate to ``distinct(fk)`` first (a
partial-agg shuffle of dim-like size), anti-join the *distinct values*
against the dim, then broadcast the (tiny) invalid-value set back. For
high-cardinality FKs use ``ri_violation_rows`` which lets Catalyst pick
broadcast vs sort-merge anti-join (AQE re-plans at runtime).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vldt_spark.errors import session_columns


def invalid_fk_values(
    fact: DataFrame,
    fk: str,
    dim: DataFrame,
    dim_key: str,
    *,
    broadcast_dim: bool | None = None,
) -> DataFrame:
    """Distinct non-null FK values absent from the dimension (small output).

    NULL semantics: a NULL FK is never an RI violation (a required FK
    reports it as a ``not_null`` violation), and a NULL dimension key
    matches nothing, so it cannot make any FK value valid.  The result does
    not depend on how the fact table is partitioned.

    ``broadcast_dim=True`` pins a broadcast anti-join — only when the dim's
    distinct keys are known to fit executor memory. The default (``None``)
    leaves the choice to AQE, which broadcasts small dims at runtime and
    falls back to shuffle for large ones — the safe default given this
    function is reachable from ``engine.run`` for any ``ref=`` field."""
    fk_col, nonnull, dim_fk = session_columns(
        fact.sparkSession,
        ("invalid_fk_values", fk, dim_key),
        lambda: (F.col(fk), F.col(fk).isNotNull(), F.col(dim_key).alias(fk)),
    )
    vals = fact.select(fk_col).where(nonnull).distinct()
    d = dim.select(dim_fk).distinct()
    if broadcast_dim:
        d = F.broadcast(d)
    return vals.join(d, fk, "left_anti")


def ri_violation_rows(
    fact: DataFrame, fk: str, dim: DataFrame, dim_key: str, *, broadcast_dim: bool | None = None
) -> DataFrame:
    """Fact rows whose FK has no match in the dim (LEFT ANTI JOIN).

    ``broadcast_dim=True`` forces a broadcast anti-join (dim fits in
    executor memory); ``False`` forces shuffle; ``None`` lets AQE decide.
    Null FKs are not RI violations (they are not_null violations).
    """
    d = dim.select(F.col(dim_key).alias(fk)).distinct()
    if broadcast_dim is True:
        d = F.broadcast(d)
    return fact.where(F.col(fk).isNotNull()).join(d, fk, "left_anti")


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
    build_partitions: int = 16,
) -> bytes:
    """Build a Bloom-filter bitmap of the dimension's key set.

    ``n_bits=None`` (default) sizes the bitmap from the dim's
    approximate key cardinality (``bloom_size_bits``) so the advertised
    miss rate holds at ANY dim size; pass an explicit power of two to
    pin the broadcast size. An explicit value whose expected fill
    exceeds 50% (per-absent-key miss ≥ ~3% at k=5) raises a warning.

    Distributed build: keys are hashed JVM-side (``xxhash64``), each of
    ``build_partitions`` partitions folds its hashes into a local bitmap
    in one vectorized numpy pass (mapInPandas), and the ≤
    ``build_partitions`` partial bitmaps (n_bits/8 bytes each) are OR-ed
    driver-side — bounded driver data regardless of dim row count
    (repartition caps the partial count even on a 10k-split dim scan).

    Bit positions use Kirsch–Mitzenmacher double hashing over the single
    64-bit key hash: pos_i = (h_lo + i·(h_hi|1)) mod n_bits — k positions
    from one JVM-side hash, no per-row Python. Keys are hashed by their
    CANONICAL STRING form so the build and probe sides agree even when
    the FK and dim-key integer widths differ (``xxhash64`` is
    type-width-sensitive: int 5 and bigint 5 hash differently raw).
    """
    hashed = dim.where(F.col(dim_key).isNotNull()).select(
        F.xxhash64(F.col(dim_key).cast("string")).alias("__h")
    )
    return bloom_build_hashed(
        hashed, "__h", n_bits=n_bits, n_hashes=n_hashes,
        build_partitions=build_partitions,
    )


def bloom_build_hashed(
    df: DataFrame,
    hash_col: str,
    *,
    n_bits: int | None = None,
    n_hashes: int = 5,
    build_partitions: int = 16,
) -> bytes:
    """``bloom_build`` over a column that ALREADY carries the 64-bit key
    hashes (``xxhash64`` computed upstream — e.g. when the same hashes
    also feed the probe side, as in the screened duplicated-n-gram
    fraction): skips the re-hash select, everything else identical."""
    import numpy as np

    if n_bits is None:
        n_bits = bloom_size_bits(df, hash_col, n_hashes=n_hashes)
    hashed = (
        df.select(F.col(hash_col).alias("__h"))
        .where(F.col("__h").isNotNull())
        .repartition(build_partitions)
    )
    n_bytes = n_bits // 8

    def fold(batches):
        import pandas as pd

        bitmap = np.zeros(n_bytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if pdf.empty:
                continue
            any_rows = True
            h = pdf["__h"].to_numpy(dtype=np.int64).astype(np.uint64)
            lo = h & np.uint64(0xFFFFFFFF)
            hi = (h >> np.uint64(32)) | np.uint64(1)
            for i in range(n_hashes):
                pos = (lo + np.uint64(i) * hi) % np.uint64(n_bits)
                np.bitwise_or.at(
                    bitmap, (pos >> np.uint64(3)).astype(np.int64),
                    np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8),
                )
        if any_rows:
            yield pd.DataFrame({"bitmap": [bitmap.tobytes()]})

    partials = hashed.mapInPandas(fold, schema="bitmap binary").collect()
    merged = np.zeros(n_bytes, dtype=np.uint8)
    for row in partials:
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
    build_partitions: int = 16,
) -> DataFrame:
    """Map-side Bloom RI screen: fact rows whose FK is DEFINITELY absent
    from the dimension — zero shuffle of the fact table.

    The 100 TB story this exists for: when the dim's distinct keys are
    too many to broadcast, the exact check (``ri_violation_rows``) is a
    sort-merge anti-join that shuffles the ENTIRE fact table on the FK.
    A Bloom bitmap of the dim (1 MiB default) rides a broadcast instead,
    and every fact partition screens locally in one vectorized pass.

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
    import numpy as np

    bitmap_bytes = bloom_build(
        dim, dim_key, n_bits=n_bits, n_hashes=n_hashes,
        build_partitions=build_partitions,
    )
    n_bits = len(bitmap_bytes) * 8  # auto-sized build picks the width
    spark = fact.sparkSession
    bc = spark.sparkContext.broadcast(bitmap_bytes)
    src = fact.where(F.col(fk).isNotNull()).withColumn(
        "__h", F.xxhash64(F.col(fk).cast("string"))
    )
    out_schema = src.drop("__h").schema

    def probe(batches):
        bitmap = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            if pdf.empty:
                continue
            h = pdf["__h"].to_numpy(dtype=np.int64).astype(np.uint64)
            lo = h & np.uint64(0xFFFFFFFF)
            hi = (h >> np.uint64(32)) | np.uint64(1)
            member = np.ones(len(pdf), dtype=bool)
            for i in range(n_hashes):
                pos = (lo + np.uint64(i) * hi) % np.uint64(n_bits)
                bits = bitmap[(pos >> np.uint64(3)).astype(np.int64)]
                member &= (
                    bits & (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
                ).astype(bool)
            out = pdf.loc[~member].drop(columns=["__h"])
            if len(out):
                yield out

    return src.mapInPandas(probe, schema=out_schema)


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
    confirmed exactly when the pipeline needs two-sided truth. Same
    Kirsch–Mitzenmacher double hashing and canonical-string key form as
    ``bloom_build`` — the two MUST agree or every probe is garbage.
    Zero shuffle: one broadcast of the bitmap, one vectorized map pass.
    """
    import numpy as np

    n_bits = len(bitmap_bytes) * 8
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bitmap_bytes)
    src = df.withColumn("__h", F.xxhash64(F.col(key).cast("string")))
    out_schema = df.schema.add(flag_col, "boolean")

    def probe(batches):
        bitmap = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            if pdf.empty:
                continue
            h = pdf["__h"].to_numpy(dtype=np.int64).astype(np.uint64)
            lo = h & np.uint64(0xFFFFFFFF)
            hi = (h >> np.uint64(32)) | np.uint64(1)
            member = np.ones(len(pdf), dtype=bool)
            for i in range(n_hashes):
                pos = (lo + np.uint64(i) * hi) % np.uint64(n_bits)
                bits = bitmap[(pos >> np.uint64(3)).astype(np.int64)]
                member &= (
                    bits & (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
                ).astype(bool)
            out = pdf.drop(columns=["__h"])
            out[flag_col] = member
            yield out

    return src.mapInPandas(probe, schema=out_schema)


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
