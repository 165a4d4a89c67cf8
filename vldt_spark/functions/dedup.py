"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-aware:

  exact          — fingerprint groupBy (one partial-agg shuffle on a 16-char
                   hash key; survivors broadcast/semi-joined back)
  MinHash + LSH  — shingle → n-permutation minhash → band → bucket self-join
                   (the only shuffle is on band keys; candidate pairs are a
                   tiny fraction of n²)
  SimHash        — 64-bit signature via bitwise majority over shingle hashes,
                   banded for candidate generation (pure expressions)
  n-gram Jaccard — exact verification on candidate pairs (or full self-join
                   on shingles for small corpora)

Everything is Catalyst higher-order functions (transform/aggregate/filter)
over arrays — zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vldt_spark.functions.text import fingerprint
from vldt_spark.plans.skew import ensure_min_parallelism


# -- exact ---------------------------------------------------------------


def exact_duplicates(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ids: int = 20,
) -> DataFrame:
    """(fingerprint, n_docs, doc_ids) for every duplicated normalized text.

    ``n_docs`` is exact; ``doc_ids`` is capped at the ``max_ids`` smallest
    ids — a pathological hot fingerprint (e.g. the empty document repeated
    10^9 times) must not materialize an unbounded id array ANYWHERE, not
    just in the report row: the id list is rank-limited per fingerprint
    *before* any collect_list, so both the aggregation buffer and (via the
    partial WindowGroupLimit Spark plans for ``row_number() <= k``) the
    shuffle carry at most ``max_ids`` ids per fingerprint. ``n_docs`` comes
    from a separate count aggregate (map-side combined, scalar partials);
    the count/ids join shares the fingerprint hash partitioning, so no
    extra exchange is added. Pass ``max_ids=None`` to keep every id
    (small-data debugging only)."""
    fp = fingerprint(F.col(text_col))
    base = docs.select(fp.alias("fp"), F.col(id_col))
    return _exact_duplicates_keyed(base, id_col=id_col, max_ids=max_ids)


def _exact_duplicates_keyed(
    base: DataFrame, *, id_col: str, max_ids: int | None
) -> DataFrame:
    """The (fp, n_docs, bounded doc_ids) aggregation over a precomputed
    (fp, id) relation — shared by the text fingerprint path and the
    array-native token-key path."""
    from pyspark.sql import Window

    counts = (
        base.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )
    ranked = base
    if max_ids is not None:
        w = Window.partitionBy("fp").orderBy(F.asc(id_col))
        ranked = (
            base.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= max_ids)
            .drop("__rn")
        )
    ids = ranked.groupBy("fp").agg(
        F.sort_array(F.collect_list(id_col)).alias("doc_ids")
    )
    return counts.join(ids, "fp").select("fp", "n_docs", "doc_ids")


def dedup_exact(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per fingerprint. Survivor set is
    computed by aggregate (map-side combine), then semi-joined back.
    The full rows do not shuffle only while the survivor ids (about one
    per row) are under the broadcast threshold; above it the semi-join
    plans as a ``SortMergeJoin`` that shuffles ``docs``."""
    fp = fingerprint(F.col(text_col)).alias("fp")
    keep = (
        docs.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


# -- shingling -----------------------------------------------------------


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of normalized text.

    Empty/null text degenerates to a single "" gram in the slice
    construction; it is filtered here so empty documents have NO
    shingles — otherwise every empty doc minhash/jaccard-matches every
    other empty doc at similarity 1.0 (a real corpus has plenty of
    whitespace-only documents)."""
    words = F.filter(
        F.split(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")), " "),
        lambda w: F.length(w) > 0,
    )
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, k)),
    )
    return F.filter(F.array_distinct(grams), lambda s: F.length(s) > 0)


# -- MinHash + LSH ---------------------------------------------------------


def _hash64(col: Column, salt: int, hash_fn: str) -> Column:
    """64-bit-ish hash of a string with an integer salt.

    ``xxhash64`` is the production path (fastest, JVM-native).
    ``md5`` is the *portable* path — 60-bit prefix of the md5 hex digest,
    computable identically in DuckDB (``CAST('0x'||substr(md5(..),1,15) AS
    BIGINT)``), which upgrades minhash/simhash from rows-only to
    value-checked in the oracle gate."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col, F.lit(salt))
    if hash_fn == "md5":
        salted = F.concat(col, F.lit(f"#{salt}"))
        return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def minhash_signatures(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) — sig[i] = min over shingles of
    xxhash64(shingle, i).

    Explode-based: shingles become rows, each row hashes once per
    permutation (codegen'd, no HOF), then a groupBy(id) with per-position
    ``min`` aggregates — map-side partial combine keeps the shuffle at one
    64-long vector per (doc, partition). The naive nested-HOF form
    re-evaluates the shingle construction per permutation per row
    (Catalyst inlines aliases into lambdas) and is ~100× slower."""
    sh = ensure_min_parallelism(docs.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("__shingle"),
    )
    hashed = sh.select(
        id_col,
        *[_hash64(F.col("__shingle"), i, hash_fn).alias(f"__h{i}") for i in range(num_hashes)],
    )
    return hashed.groupBy(id_col).agg(
        F.array(*[F.min(f"__h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH.

    sig → `bands` bands of r=num_hashes/bands rows; docs sharing any band
    hash become candidates (shuffle key = (band, band_hash) — bounded
    buckets); estimated Jaccard = fraction of equal minhashes; pairs kept
    when estimate ≥ threshold. Returns (id_a, id_b, jaccard_est).
    ``hash_fn="md5"`` makes the WHOLE pipeline (shingle hash + band hash)
    DuckDB-reproducible for the oracle gate."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sigs = minhash_signatures(
        docs, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        shingle_k=shingle_k, hash_fn=hash_fn,
    )
    # the banded self-join references the signature plan on both sides —
    # persist so shingling+hashing runs once, not twice (sig is 8B×num_hashes
    # per doc; MEMORY_AND_DISK spills safely at corpus scale)
    sigs = sigs.persist()
    # the banded exchange carries (id, band, bh) ONLY — 24 bytes/row, not
    # the full 8B×num_hashes signature on both sides (which would replicate
    # every signature ×bands through the hottest shuffle in the pipeline;
    # at 100 TB the payload would dominate the exchange). Signatures are
    # re-attached AFTER candidate-pair dedup via two equi-joins against the
    # persisted sigs relation — the candidate set is orders of magnitude
    # smaller than the banded rows, so AQE broadcasts it into those joins.
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    _hash64(
                        F.concat_ws(",", F.slice(F.col("sig"), b * r + 1, r)),
                        0,
                        hash_fn,
                    ).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(
        sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")), "id_b"
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda e: e,
            )
        ).cast("double")
        / num_hashes
    )
    return (
        pairs.withColumn("jaccard_est", F.round(est, 6))
        .where(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


# -- SimHash ---------------------------------------------------------------


def simhash(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash: bigint) — bit j set iff the majority of shingle hashes
    have bit j set. ``hash_fn="md5"`` uses the 60-bit portable hash (cap
    ``bits`` at 60 for that path — see ``_hash64``).

    Explode-based like ``minhash_signatures``: one xxhash per shingle row,
    64 codegen'd ±1 sums in a single groupBy(id) (map-side combine), then a
    driver-built majority→bit-weight expression. Bit 63's weight is
    long-min (two's complement)."""
    sh = ensure_min_parallelism(docs.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("__s"),
    ).select(id_col, _hash64(F.col("__s"), 0, hash_fn).alias("__h"))
    counted = sh.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright("__h", j).bitwiseAND(F.lit(1)).cast("int")).alias(f"__b{j}")
            for j in range(bits)
        ],
    )
    sig = None
    for j in range(bits):
        weight = (1 << j) if j < 63 else -(1 << 63)
        term = F.when(
            F.col(f"__b{j}") * 2 > F.col("__n"), F.lit(weight).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return counted.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs via 4-band blocking (bits/4-wide bands) on the
    simhash, then exact Hamming filter (bit_count of xor).
    Returns (id_a, id_b, hamming)."""
    band_bits = bits // 4
    band_mask = (1 << band_bits) - 1
    sigs = simhash(docs, text_col=text_col, id_col=id_col, bits=bits, hash_fn=hash_fn)
    # self-join below reads the signature plan twice — persist (8B per doc)
    sigs = sigs.persist()
    banded = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * band_bits)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("bh"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.where(F.col("hamming") <= max_hamming)


# -- near-dup clustering -----------------------------------------------------


def near_dup_clusters(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    report: dict | None = None,
) -> DataFrame:
    """Connected components over near-duplicate candidate pairs →
    (doc_id, cluster_id) with cluster_id = min doc_id in the component —
    the grouping step a dedup pipeline runs after MinHash/SimHash/Jaccard
    pair generation.

    Min-label propagation: each node repeatedly takes the smallest label
    among itself and its neighbours; converges in O(diameter) rounds
    (near-dup components are shallow — a handful of rounds in practice,
    ``max_iters`` bounds adversarial chains: on a cap hit the labels are
    a valid REFINEMENT — every emitted cluster is a subset of a true
    component, so no false merges — just possibly split). Each round is
    one join + one aggregate on the PAIRS table (small relative to the
    corpus: only docs that collided). At extreme component sizes switch
    to the large-star/small-star formulation; the interface stays the
    same.

    Pass ``report={}`` to receive ``{"converged": bool, "rounds": int}``
    back — a pipeline that must guarantee full transitive closure should
    assert ``converged`` (the cap is otherwise silent by design: partial
    clusters are still useful and the flag keeps the output schema
    oracle-stable)."""
    a = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        a.unionByName(a.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut the lineage
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if report is not None:
        report["converged"] = converged
        report["rounds"] = rounds
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_near(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop near-duplicates: keep one representative (the min-id member)
    per cluster; docs in no cluster survive untouched. The dropped-id set
    is cluster-membership-sized (small) → broadcast anti-join, the corpus
    never shuffles."""
    clusters = near_dup_clusters(pairs, id_a=id_a, id_b=id_b)
    drop = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(F.broadcast(drop), id_col, "left_anti")


# -- exact n-gram Jaccard ----------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over word k-gram shingle sets: explode → self-join on
    shingle → |∩| per pair → |∪| from per-doc sizes. At scale, run it on
    LSH candidates only; the full self-join form is the oracle baseline.
    Returns (id_a, id_b, jaccard)."""
    sh = ensure_min_parallelism(docs.select(id_col, text_col)).select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("shingles")
    )
    sizes = sh.select(id_col, F.size("shingles").alias("n_sh"))
    exploded = sh.select(id_col, F.explode("shingles").alias("shingle"))
    a, b = exploded.alias("a"), exploded.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    j = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ),
        )
    )
    return j.where(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# -- benchmark decontamination ------------------------------------------------


def _shingle_rows_arrow(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Arrow-batched equivalent of ``explode(word_shingles(text, k))``
    with the per-doc gram count riding along: yields one
    (id, n_grams, shingle) row per distinct shingle.

    Catalyst HOF lambdas (transform/slice/concat_ws) are interpreted,
    not codegen'd — at k=13 the per-row slice/concat work is ~4× the
    3-gram case and dominates the contamination scan. One Python join
    per gram inside an Arrow batch is measurably cheaper. The shingle
    DEFINITION is replicated bit-for-bit (trim → collapse Java-\\s runs
    → lower → split → distinct k-grams; short non-empty docs produce
    their single whole-text gram) and is pinned equal to the expression
    path by pytest and by the oracle gate running this path tri-scale.
    """
    import re

    from pyspark.sql import types as T

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")
    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType, True),
            T.StructField("n_grams", T.IntegerType(), False),
            T.StructField("shingle", T.StringType(), False),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out_id, out_n, out_s = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                words = [
                    w
                    for w in ws_re.sub(" ", (t or "").strip()).lower().split(" ")
                    if w
                ]
                if not words:
                    continue
                n = len(words)
                grams = dict.fromkeys(
                    " ".join(words[j : j + k]) for j in range(max(n - k, 0) + 1)
                )
                ng = len(grams)
                out_id.extend([i] * ng)
                out_n.extend([ng] * ng)
                out_s.extend(grams)
            if out_id:
                yield pd.DataFrame(
                    {id_col: out_id, "n_grams": out_n, "shingle": out_s}
                )

    return docs.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    shingle_k: int = 13,
    shingle_impl: str = "expr",
) -> DataFrame:
    """Train/test contamination screen (the GPT-3-appendix / standard
    LLM-pipeline decontamination op): flag corpus documents sharing word
    ``shingle_k``-grams with a benchmark/eval set.

    Scale shape: the benchmark side (eval sets are MBs, not TBs) reduces
    to DISTINCT shingles and is BROADCAST — the corpus side is ONE scan:
    the per-doc shingle count rides along through the explode so no
    second scan / final re-join on the id is needed, and after the
    broadcast-hash-join the only shuffle is the per-doc partial-combined
    count — (doc, n_grams, n_hits) triples, never shingle rows. For a
    benchmark too big to broadcast, drop the broadcast hint and the same
    plan becomes a shuffle join keyed on the shingle. 13-gram overlap
    (the GPT-3 choice) is near-certain contamination; lower k for
    shorter benchmark items.

    Returns (id, n_grams, n_hits, frac) for contaminated docs only
    (n_hits ≥ 1); frac = contaminated fraction of the doc's distinct
    shingles.

    ``shingle_impl``: "expr" shingles the corpus with Catalyst
    expressions (``word_shingles`` — the oracle-replicated definition);
    "arrow" computes the identical shingles in Arrow-batched Python
    (``_shingle_rows_arrow``) — at k ≥ 13 the interpreted HOF
    slice/concat work dominates the scan and the batched path is
    several times cheaper; definitions are pinned equal by pytest.
    """
    bt = bench_text_col or text_col
    bench_grams = (
        benchmark.select(F.explode(word_shingles(F.col(bt), shingle_k)).alias("shingle"))
        .where(F.length("shingle") > 0)
        .distinct()
    )
    if shingle_impl == "arrow":
        ex = _shingle_rows_arrow(docs, id_col, text_col, shingle_k)
    elif shingle_impl == "expr":
        ex = (
            docs.select(
                F.col(id_col),
                word_shingles(F.col(text_col), shingle_k).alias("shingles"),
            )
            .select(
                id_col,
                F.size("shingles").alias("n_grams"),
                F.explode("shingles").alias("shingle"),
            )
            .where(F.length("shingle") > 0)
        )
    else:
        raise ValueError(f"unknown shingle_impl {shingle_impl!r}")
    return (
        ex.join(F.broadcast(bench_grams), "shingle")
        .groupBy(id_col, "n_grams")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            id_col,
            "n_grams",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_grams"), 6).alias("frac"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    shingle_k: int = 13,
    max_frac: float = 0.0,
    shingle_impl: str = "expr",
) -> DataFrame:
    """Drop contaminated documents: anti-join of ``docs`` against the
    contamination report's ids with frac > ``max_frac`` (default: any
    overlap removes the doc, the conservative eval-hygiene setting).
    The flagged-id set is report-cardinality (small), so the anti-join
    broadcasts — same pattern as dedup_near."""
    flagged = contamination_report(
        docs,
        benchmark,
        id_col=id_col,
        text_col=text_col,
        bench_text_col=bench_text_col,
        shingle_k=shingle_k,
        shingle_impl=shingle_impl,
    ).where(F.col("frac") > max_frac).select(id_col)
    return docs.join(F.broadcast(flagged), id_col, "left_anti")


def paragraph_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    mode: str = "boilerplate",
    min_docs: int = 2,
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Paragraph-granularity dedup (CCNet-style boilerplate removal).

    Splits each document on ``sep``, hashes the normalized (lowercased,
    trimmed) paragraph, and removes paragraphs by corpus-wide evidence:

      * ``mode="boilerplate"`` — drop every occurrence of a paragraph that
        appears in >= ``min_docs`` DISTINCT documents (cookie banners,
        copyright footers, nav chrome). The web-corpus default.
      * ``mode="first"`` — keep only the globally first occurrence of each
        paragraph (ordered by (id, position)) and drop all later repeats —
        the CCNet exact-paragraph dedup semantics.

    Returns one row per input document: (id_col, text_col cleaned with
    paragraph order preserved, ``n_paras``, ``n_removed``). A document
    whose every paragraph is removed survives with EMPTY text; a
    NULL-text document survives with NULL text and n_paras = 0 — output
    cardinality always equals the input's.

    Scale: the only corpus-wide state is an aggregate keyed on the 64-bit
    paragraph hash (map-side combine; count-distinct is Spark's two-stage
    partial). The boilerplate/first-occurrence table is tiny relative to
    the corpus, so AQE broadcasts the decision join; reassembly groups by
    document id with a buffer bounded by paragraphs-per-document. No
    global sort, no driver collect. ``hash_fn="md5"`` is the portable
    path the oracle gate value-checks against DuckDB.

    Reference scope analogue: vldt validates rows, not corpora — this op
    belongs to the training-data surface layered on top (SURVEY.md §2,
    dedup family).
    """
    if mode not in ("boilerplate", "first"):
        raise ValueError(f"paragraph_dedup: unknown mode {mode!r}")
    if min_docs < 2:
        raise ValueError(f"paragraph_dedup: min_docs must be >= 2, got {min_docs}")

    # F.split takes a Java regex — \Q...\E quotes the separator so any
    # literal delimiter works (".", "||", ...), not just regex-safe ones.
    # posexplode_OUTER keeps NULL-text documents as a single null-paragraph
    # row (plain posexplode would drop them, breaking the one-row-per-
    # input-document invariant); the null paragraph gets a null hash on
    # both hash paths, is never counted, removed, or emitted, and the
    # document comes back with NULL text and n_paras = 0.
    para_norm = F.lower(F.trim(F.col("__para")))
    paras = docs.select(
        F.col(id_col),
        F.posexplode_outer(
            F.split(F.col(text_col), "\\Q" + sep + "\\E", -1)
        ).alias("__pos", "__para"),
    ).withColumn(
        "__ph",
        F.when(F.col("__para").isNotNull(), _hash64(para_norm, seed, hash_fn)),
    )

    if mode == "boilerplate":
        drop_set = (
            paras.where(F.col("__ph").isNotNull())
            .groupBy("__ph")
            .agg(F.countDistinct(id_col).alias("__nd"))
            .where(F.col("__nd") >= min_docs)
            .select("__ph", F.lit(True).alias("__boiler"))
        )
        marked = paras.join(drop_set, "__ph", "left").withColumn(
            "__rm", F.coalesce(F.col("__boiler"), F.lit(False))
        )
    else:
        firsts = paras.where(F.col("__ph").isNotNull()).groupBy("__ph").agg(
            F.min(F.struct(F.col(id_col).alias("i"), F.col("__pos").alias("p"))).alias("__f")
        )
        marked = paras.join(firsts, "__ph", "left").withColumn(
            "__rm",
            F.when(F.col("__f").isNull(), F.lit(False)).otherwise(
                ~((F.col("__f.i") == F.col(id_col)) & (F.col("__f.p") == F.col("__pos")))
            ),
        )

    kept_struct = F.when(
        ~F.col("__rm") & F.col("__para").isNotNull(),
        F.struct(F.col("__pos"), F.col("__para")),
    )
    return marked.groupBy(id_col).agg(
        F.when(
            F.count("__para") > 0,
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["__para"]
                ),
                sep,
            ),
        ).alias(text_col),
        F.count("__para").alias("n_paras"),
        F.sum(F.col("__rm").cast("long")).alias("n_removed"),
    )


def duplicated_ngram_fraction(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document train-train overlap (the corpus-duplication metric of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): the fraction of each doc's distinct word k-gram shingles
    that also appear in at least one OTHER document. A corpus-level
    diagnostic that pair-wise dedup can't give: a doc can be far from any
    single near-duplicate yet be 90% assembled from corpus-common text.

    Returns (``id_col``, n_shingles, n_duplicated, dup_fraction).

    Plan shape: per-doc DISTINCT shingles explode once; ONE aggregate
    keyed on shingle counts the docs carrying it (map-side combine; the
    exchange carries (shingle, partial count), bounded by the shingle
    vocabulary, not |docs| × |shingles|). The join-back only needs
    MEMBERSHIP in the duplicated subset (count ≥ 2) — a small minority
    of a web corpus's shingle vocabulary — so the exploded relation
    LEFT-SEMI joins that subset (AQE turns it into a broadcast join
    whenever the duplicated set fits) instead of joining the full
    per-shingle counts; ``n_shingles`` is the row-local array size and
    never rides a join at all. Docs with no shingles (empty/null text)
    report a 0.0 fraction rather than dropping out. When even the
    duplicated subset is too large to broadcast, use
    ``duplicated_ngram_fraction_screened`` — a one-sided Bloom screen
    with NO join-back exchange.
    """
    base = ensure_min_parallelism(docs.select(id_col, text_col))
    sh = base.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("shingles")
    )
    exploded = sh.select(id_col, F.explode("shingles").alias("shingle"))
    dups = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("shingle")
    )
    per_doc = (
        exploded.join(dups, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_duplicated"))
    )
    sizes = sh.select(
        id_col, F.size("shingles").cast("long").alias("n_shingles")
    )
    return (
        sizes.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.col("n_shingles"),
            F.coalesce("n_duplicated", F.lit(0)).alias("n_duplicated"),
            F.when(
                F.col("n_shingles") > 0,
                F.coalesce("n_duplicated", F.lit(0)) / F.col("n_shingles"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def duplicated_ngram_fraction_screened(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    n_bits: int | None = None,
    n_hashes: int = 5,
) -> DataFrame:
    """Bloom-screened ``duplicated_ngram_fraction`` — the 100 TB shape.

    The exact form must bring every exploded (doc, shingle) row together
    with the per-shingle verdict: at corpus scale that join-back is a
    full-corpus-sized exchange (the one plan the exact metric cannot
    avoid). This variant folds the DUPLICATED-shingle set (count ≥ 2 —
    in a web corpus a small minority of the shingle vocabulary) into a
    broadcast Bloom bitmap (``checks.referential.bloom_build_hashed``:
    bounded partial bitmaps, driver OR, auto-sized from the
    duplicated-set cardinality), and every document then counts its
    duplicated shingles ROW-LOCALLY: shingles are hashed JVM-side ONCE
    (``xxhash64``), and the cached (id, hashes) relation feeds both
    the duplicated-set aggregate (an exchange of LONGS, never shingle
    strings) and the probe — one ``mapInArrow`` pass that flattens each
    Arrow batch's hash lists (``_arrow_flat_tokens``), tests them all
    with one ``_bloom_test`` and sums the members per row with one
    ``np.add.reduceat``. The whole job is a single shingling pass plus
    cached re-reads. The only exchange left is the per-hash count
    aggregate's map-side-combined partials; the doc→shingle relation
    never rides a shuffle. The hash relation stays persisted
    (MEMORY_AND_DISK, ~8 bytes/shingle) for the returned DataFrame's
    lifetime.

    Error is ONE-SIDED: a Bloom false positive can only mark a singleton
    shingle as duplicated, and counting in hash space can only MERGE
    counts upward on a collision — so ``n_duplicated`` (and
    ``dup_fraction``) is ≥ the exact value, never under: the safe
    direction for a corpus-health gate (overlap is never
    under-reported). The default auto-sized bitmap targets ≈ 3e-4 FP
    per singleton probe.

    Returns (``id_col``, n_shingles, n_duplicated, dup_fraction) — the
    same schema as the exact form.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark import StorageLevel
    from pyspark.sql import types as T

    from vldt_spark.checks.referential import _bloom_test, bloom_build_hashed
    from vldt_spark.functions.tokens import _arrow_flat_tokens

    base = ensure_min_parallelism(docs.select(id_col, text_col))
    sh = base.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("shingles")
    )
    # hash ONCE: the shingling HOF is the expensive row-local work, and
    # the same 64-bit hashes feed BOTH the duplicated-set aggregate (an
    # exchange of longs, never shingle strings) and the probe — caching
    # this relation makes the whole job one shingling pass (+ cached
    # re-reads), vs two full shinglings for the exact form's two plan
    # arms. Counting in hash space keeps the one-sided guarantee: a hash
    # collision can only merge counts UPWARD (overcount, never under).
    hashed = sh.select(
        F.col(id_col),
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("__hs"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dups = (
        hashed.select(F.explode("__hs").alias("__h"))
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    bitmap_bytes = bloom_build_hashed(dups, "__h", n_bits=n_bits, n_hashes=n_hashes)
    bc = docs.sparkSession.sparkContext.broadcast(bitmap_bytes)
    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType, True),
            T.StructField("n_shingles", T.LongType(), False),
            T.StructField("n_duplicated", T.LongType(), False),
            T.StructField("dup_fraction", T.DoubleType(), False),
        ]
    )
    names = [f.name for f in out_schema]

    def probe(batches):
        bitmap = np.frombuffer(bc.value, dtype=np.uint8)
        for batch in batches:
            if not batch.num_rows:
                continue
            flat, lens = _arrow_flat_tokens(batch.column(1))
            dup_counts = np.zeros(lens.size, dtype=np.int64)
            nonzero = lens > 0
            if flat.size:
                member = _bloom_test(bitmap, flat.view(np.uint64), n_hashes)
                # reduceat over nonzero-row starts: zero-length rows add
                # no flat elements, so consecutive kept starts delimit
                # exactly their rows' segments
                starts = np.cumsum(lens) - lens
                dup_counts[nonzero] = np.add.reduceat(
                    member.astype(np.int64), starts[nonzero]
                )
            frac = np.where(nonzero, dup_counts / np.maximum(lens, 1), 0.0)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(lens), pa.array(dup_counts), pa.array(frac)],
                names=names,
            )

    return hashed.mapInArrow(probe, schema=out_schema)


def exact_substr_dedup(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    keep_first: bool = False,
) -> DataFrame:
    """ExactSubstr duplicate-SPAN removal (the other half of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    excise every word span of ≥ ``k`` tokens that occurs more than once
    in the corpus — instead of merely scoring overlap
    (``duplicated_ngram_fraction``) or dropping whole near-duplicate
    documents (``dedup_near``).

    Semantics, on the normalized token stream (lowercased,
    whitespace-collapsed words — the same normalization as the rest of
    the shingle family): word position j of a doc is removed iff some
    k-gram starting at i ≤ j < i+k occurs ≥ 2 times corpus-wide
    (within-doc repeats count). Overlapping/adjacent duplicated k-grams
    merge into maximal spans — the paper's construction with positioned
    k-gram seeds standing in for its corpus suffix array (a suffix
    array is a single-machine structure; positioned k-gram occurrence
    counts mark the identical covered set for duplicated spans ≥ k and
    distribute as plain aggregates). ``keep_first=True`` preserves the
    corpus-wide first occurrence (min (doc, pos)) of each duplicated
    k-gram — the "leave one copy" setting; the default removes every
    copy (the paper's conservative choice).

    Plan shape: positioned k-grams explode once and aggregate on their
    64-bit hash (map-side combine; the exchange carries hash partials,
    never gram strings); only DUPLICATED positions survive the
    join-back (AQE broadcasts the dup-hash set when it is small) and
    ride the per-doc aggregate — dup positions are a small minority of
    a mostly-clean corpus, so the per-doc aggregate is tiny; span
    merging and text excision are row-local expressions. The temporary
    covered-index expansion is |dup positions| × k per doc before
    dedup — row-local CPU on duplicated regions only, never shuffled.

    Returns (``id_col``, text_clean, n_words, n_removed_words,
    n_spans); every input doc appears (clean docs report 0 removed;
    null/empty text reports an empty clean string).
    """
    base = ensure_min_parallelism(docs.select(id_col, text_col))
    words = F.filter(
        F.split(
            F.lower(
                F.regexp_replace(
                    F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
                )
            ),
            " ",
        ),
        lambda w: F.length(w) > 0,
    )
    wd = base.select(F.col(id_col), words.alias("__ws"))
    n = F.size("__ws")
    gram_arr = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("__ws"), i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = wd.select(
        F.col(id_col), F.posexplode(gram_arr).alias("__p0", "__gram")
    ).select(
        id_col,
        (F.col("__p0") + 1).alias("pos"),
        F.xxhash64("__gram").alias("__h"),
    )
    agg = occ.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
        ).alias("__first"),
    )
    dup = agg.where(F.col("__cnt") >= 2)
    if keep_first:
        dup_pos = (
            occ.join(dup.select("__h", "__first"), "__h")
            .where(
                ~(
                    (F.col("__first.i") == F.col(id_col))
                    & (F.col("__first.p") == F.col("pos"))
                )
            )
            .select(id_col, "pos")
        )
    else:
        dup_pos = occ.join(dup.select("__h"), "__h", "left_semi").select(
            id_col, "pos"
        )
    per = dup_pos.groupBy(id_col).agg(F.collect_set("pos").alias("__ps"))
    joined = wd.join(per, id_col, "left")
    covered = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.coalesce(F.col("__ps"), F.array().cast("array<int>")),
                    lambda p: F.sequence(p, p + F.lit(k - 1)),
                )
            )
        )
    )
    joined = joined.withColumn("__cov", covered)
    kept = F.filter(
        F.transform(
            F.col("__ws"),
            lambda w, i: F.struct((i + 1).alias("j"), w.alias("w")),
        ),
        lambda s: ~F.array_contains(F.col("__cov"), s["j"]),
    )
    # a covered index starts a maximal span iff its predecessor index is
    # not covered (sorted-distinct array: previous ELEMENT is 1-based
    # element_at(i) for the element at 0-based index i)
    n_spans = F.size(
        F.filter(
            F.transform(
                F.col("__cov"), lambda c, i: F.struct(c.alias("c"), i.alias("i"))
            ),
            lambda s: (s["i"] == 0)
            | (F.element_at(F.col("__cov"), s["i"]) != s["c"] - 1),
        )
    )
    return joined.select(
        id_col,
        F.concat_ws(" ", F.transform(kept, lambda s: s["w"])).alias("text_clean"),
        F.size("__ws").cast("long").alias("n_words"),
        F.size("__cov").cast("long").alias("n_removed_words"),
        n_spans.cast("long").alias("n_spans"),
    )


# -- incremental (cross-snapshot) dedup ---------------------------------------


def dedup_against_seen(
    new: DataFrame,
    seen: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    within_batch: bool = True,
    bloom_screen: bool = True,
    n_bits: int | None = None,
) -> DataFrame:
    """Exact incremental dedup: the rows of a NEW batch whose content was
    never seen in an existing corpus — the daily-crawl-vs-100 TB-archive
    shape (reference analogue: the validate-on-ingest loop of
    /root/reference/vldt — each incoming object checked against standing
    state; here the state is the seen corpus's content-fingerprint set).

    Returns ``(id_col, fp)`` for surviving new rows. ``within_batch=True``
    additionally keeps only the smallest-id row per fingerprint *within
    the batch* (first-writer-wins), so the output is ingestible as-is.

    Scale strategy — the exact anti-join would shuffle the batch AND the
    seen corpus's distinct fingerprints on every ingest. With
    ``bloom_screen=True`` (default) a Bloom bitmap of the seen
    fingerprints rides one broadcast instead (auto-sized by
    ``bloom_size_bits`` so fill stays ~20% at any corpus cardinality;
    at 100 TB the bitmap is built ONCE and reused across batches):

      - Bloom-MISS rows are definitely novel (no false negatives) and
        bypass the confirmation join entirely — at steady state the
        overwhelming majority of a crawl batch is novel, so almost no
        batch row rides an exchange;
      - Bloom-HIT rows (true dups + ~fill^k false positives) escalate to
        the exact left-anti join against the seen fingerprint set.

    The screened result is IDENTICAL to the exact result — the Bloom only
    routes rows between the free path and the exact path; it never
    decides membership alone. The batch is map-scanned twice (once per
    branch); two map passes beat one full-batch shuffle at any scale.
    """
    from vldt_spark.checks.referential import bloom_build, bloom_probe_flag

    fpc = fingerprint(F.col(text_col))
    newf = new.select(F.col(id_col), fpc.alias("fp"))
    seenf = seen.select(fpc.alias("fp")).distinct()

    if bloom_screen:
        bitmap = bloom_build(seenf, "fp", n_bits=n_bits)
        flagged = bloom_probe_flag(newf, "fp", bitmap, flag_col="__maybe_seen")
        definitely_novel = flagged.where(~F.col("__maybe_seen")).drop("__maybe_seen")
        confirmed_novel = (
            flagged.where(F.col("__maybe_seen"))
            .drop("__maybe_seen")
            .join(seenf, "fp", "left_anti")
        )
        novel = definitely_novel.unionByName(confirmed_novel)
    else:
        novel = newf.join(seenf, "fp", "left_anti")

    if within_batch:
        from pyspark.sql import Window

        w = Window.partitionBy("fp").orderBy(F.col(id_col))
        novel = (
            novel.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    return novel.select(id_col, "fp")


def _banded_keys(
    sigs: DataFrame, id_col: str, *, bands: int, r: int, hash_fn: str
) -> DataFrame:
    """(id, band, bh) LSH band keys from a (id, sig) relation — the
    24-byte-per-row shape that rides the banded exchange (signatures are
    re-attached AFTER candidate dedup, never shipped through the bucket
    join). Same band-hash construction as ``minhash_lsh_pairs``."""
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    _hash64(
                        F.concat_ws(",", F.slice(F.col("sig"), b * r + 1, r)),
                        0,
                        hash_fn,
                    ).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def near_dups_against_seen(
    new: DataFrame,
    seen: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Cross-corpus MinHash-LSH: near-duplicate pairs between a NEW batch
    and a SEEN corpus — (new_id, seen_id, jaccard_est). The incremental
    twin of ``minhash_lsh_pairs``: instead of a self-join, the batch's
    band keys join the corpus's band keys, so a daily increment never
    pays the corpus × corpus candidate space.

    Scale shape: both sides band to (id, band, bh) triples — the ONLY
    exchange payload; signatures re-attach post-dedup via equi-joins the
    candidate set is small enough to broadcast into. At 100 TB the seen
    side's signatures + band keys are computed once and PERSISTED as a
    table (they are pure functions of the text); each ingest then only
    minhashes the new batch and joins its bands against the stored band
    relation — this function takes DataFrames for both sides so either
    can be a parquet-backed precomputed relation.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    kw = dict(
        text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        shingle_k=shingle_k, hash_fn=hash_fn,
    )
    sigs_new = minhash_signatures(new, **kw).persist()
    sigs_seen = minhash_signatures(seen, **kw).persist()
    b_new = _banded_keys(sigs_new, id_col, bands=bands, r=r, hash_fn=hash_fn)
    b_seen = _banded_keys(sigs_seen, id_col, bands=bands, r=r, hash_fn=hash_fn)

    a, b = b_new.alias("a"), b_seen.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")),
        )
        .select(
            F.col(f"a.{id_col}").alias("new_id"),
            F.col(f"b.{id_col}").alias("seen_id"),
        )
        .dropDuplicates(["new_id", "seen_id"])
    )
    pairs = cand.join(
        sigs_new.select(F.col(id_col).alias("new_id"), F.col("sig").alias("sig_a")),
        "new_id",
    ).join(
        sigs_seen.select(F.col(id_col).alias("seen_id"), F.col("sig").alias("sig_b")),
        "seen_id",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda e: e,
            )
        ).cast("double")
        / num_hashes
    )
    return (
        pairs.withColumn("jaccard_est", F.round(est, 6))
        .where(F.col("jaccard_est") >= threshold)
        .select("new_id", "seen_id", "jaccard_est")
    )


def dup_source_matrix(
    docs: DataFrame,
    *,
    text_col: str = "text",
    by: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-source exact-duplicate matrix: for every (unordered) pair of
    ``by`` groups, how many normalized texts they share and how many
    document pairs that overlap represents — the "who copies from whom"
    view a corpus curator reads before setting mixture weights (a shared
    Common-Crawl snapshot shows up as a hot off-diagonal cell; a source
    that scrapes another is an asymmetric n_docs split on a symmetric
    n_shared).  The diagonal (source_a = source_b) carries WITHIN-source
    duplication: C(n,2) pairs per duplicated fingerprint.

    Returns (source_a, source_b, n_shared_texts, n_doc_pairs) with
    source_a <= source_b, only rows with n_doc_pairs > 0.

    Scale shape: the fact table is folded to (fingerprint, group, n)
    partials FIRST (map-side combined, one exchange of narrow triples);
    the self-join runs on that folded relation, keyed by fingerprint,
    whose per-key width is at most |groups| — no fingerprint, however
    hot, can blow up a join group beyond |groups|² pairs, and the final
    aggregate is |groups|²-bounded.  Document text never rides any
    exchange.  Reference parity: vldt's uniqueness constraint is
    per-model-instance (src/data_model.cpp uniqueness checks); this is
    the corpus-level generalisation the north rule's distributed
    uniqueness family covers.
    """
    fp = fingerprint(F.col(text_col))
    per = (
        docs.select(fp.alias("fp"), F.col(by).alias("g"))
        .groupBy("fp", "g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a, b = per.alias("a"), per.alias("b")
    pairs = a.join(
        b,
        (F.col("a.fp") == F.col("b.fp")) & (F.col("a.g") <= F.col("b.g")),
    ).select(
        F.col("a.g").alias("source_a"),
        F.col("b.g").alias("source_b"),
        F.col("a.fp").alias("fp"),
        F.when(
            F.col("a.g") == F.col("b.g"),
            (F.col("a.n") * (F.col("a.n") - F.lit(1))) / F.lit(2),
        )
        .otherwise(F.col("a.n") * F.col("b.n"))
        .cast("long")
        .alias("n_pairs"),
    )
    return (
        pairs.where(F.col("n_pairs") > 0)
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_texts"),
            F.sum("n_pairs").alias("n_doc_pairs"),
        )
    )


# -- token-native dedup ----------------------------------------------------
# The north-rule input is PRE-TOKENIZED sequences (doc_id, tokens:
# array<int32>, n_tok, source) — at that layer dedup keys on token ids,
# not on raw text. Every operator below works directly on the token
# array via one canonical projection, so the battle-tested text
# machinery (fingerprint groupBy, banded MinHash-LSH, the Lee-et-al.
# duplicated-n-gram fraction with its Bloom-screened 100 TB shape) is
# reused verbatim instead of forked: a token k-gram IS a word k-gram of
# the canonical rendering, bit-for-bit.


def tokens_canonical_text(tokens: Column) -> Column:
    """Canonical, INJECTIVE text rendering of a token-id array: decimal
    ids joined by single spaces ("17 4 880 ...").

    Injectivity is what makes the reuse sound: no decimal rendering
    contains a space, so the joined string splits back into exactly the
    original ids — [1, 23] → "1 23" and [12, 3] → "12 3" never collide.
    The text normalizations downstream (lower, trim, whitespace
    collapse) are all identity on this form, so ``word_shingles`` over
    the canonical text enumerates exactly the token k-grams, and
    ``fingerprint`` keys exact dedup on the exact id sequence. An empty
    (or null-element-free) array renders as "" — empty sequences dedup
    against each other, the same semantics the text tier gives empty
    documents."""
    return F.array_join(tokens.cast("array<string>"), " ")


def token_sequence_key(tokens: Column) -> Column:
    """128-bit-effective exact-sequence key, ARRAY-NATIVE: two
    independently-salted xxhash64 passes over the raw token array,
    rendered "h1:h2". Spark's xxhash64 hashes complex types directly in
    the JVM — no canonical-string materialization, no md5 — which
    measures 2.1× faster than render+md5 on 1M sequences and, more
    importantly at scale, never allocates the ~n_tok×4-byte rendering
    per row. Two salts because a single 64-bit key expects ~30k birthday
    collisions at the north rule's 10^12 sequences; at 128 bits the
    expectation is ~3e-14."""
    return F.concat_ws(
        ":",
        F.xxhash64(tokens).cast("string"),
        F.xxhash64(F.lit(1), tokens).cast("string"),
    )


def token_exact_duplicates(
    df: DataFrame,
    *,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    max_ids: int = 20,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(fp, n_docs, doc_ids) for every token SEQUENCE (exact id-level
    match, order-sensitive) shared by >= 2 documents. Same bounded-buffer
    guarantees as ``exact_duplicates``: ``n_docs`` exact, ``doc_ids``
    rank-limited to the ``max_ids`` smallest BEFORE any collect_list, so
    a pathological hot sequence (the empty sequence repeated 10^9 times)
    never materializes an unbounded array.

    ``hash_fn="xxhash64"`` (default, the scale path) keys on the
    array-native 128-bit ``token_sequence_key`` — zero string rendering.
    ``hash_fn="md5"`` keys on ``fingerprint(tokens_canonical_text(...))``,
    the DuckDB-portable form the oracle gate value-checks; both paths
    produce identical groups (pytest-pinned), only the fp label differs."""
    if hash_fn == "md5":
        base = df.select(
            F.col(id_col),
            tokens_canonical_text(F.col(tokens_col)).alias("__ttext"),
        )
        return exact_duplicates(
            base, text_col="__ttext", id_col=id_col, max_ids=max_ids
        )
    base = df.select(
        token_sequence_key(F.col(tokens_col)).alias("fp"), F.col(id_col)
    )
    return _exact_duplicates_keyed(base, id_col=id_col, max_ids=max_ids)


def token_dedup_exact(
    df: DataFrame,
    *,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Keep the min-id representative per exact token sequence; all other
    columns ride through untouched. Survivor ids come from one partial-agg
    shuffle on the sequence key, then a semi-join back onto ``df``.  The
    full rows do not shuffle only while the survivor ids (about one per
    row) are under the broadcast threshold; above it the semi-join plans
    as a ``SortMergeJoin`` that shuffles ``df``, token arrays included:
    206 MB of shuffle writes on the 200k-row bench table.
    Rows with a null ``id_col`` never survive (a semi-join can't match
    null) — at ingest that is the desired quarantine for unkeyed rows.
    ``hash_fn`` as in ``token_exact_duplicates``: array-native xxhash64
    by default, md5-canonical for oracle portability."""
    if hash_fn == "md5":
        keyed = df.withColumn(
            "__ttext", tokens_canonical_text(F.col(tokens_col))
        )
        return dedup_exact(keyed, text_col="__ttext", id_col=id_col).drop(
            "__ttext"
        )
    keep = (
        df.select(token_sequence_key(F.col(tokens_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def token_minhash_pairs(
    df: DataFrame,
    *,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate sequence pairs via banded MinHash-LSH over token
    k-gram shingles — (id_a, id_b, jaccard_est). The full text pipeline
    (explode-based signature build with per-position min partials, banded
    exchange carrying (id, band, bh) triples only, signatures re-attached
    post-dedup) runs unchanged on the canonical rendering; the shingle
    universe is token id k-grams instead of word k-grams. Sequences
    shorter than ``shingle_k`` contribute their single clamped gram (the
    whole sequence), matching the text tier's short-document behavior.
    ``hash_fn="md5"`` is the oracle-portable path."""
    base = df.select(
        F.col(id_col), tokens_canonical_text(F.col(tokens_col)).alias("__ttext")
    )
    return minhash_lsh_pairs(
        base,
        text_col="__ttext",
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        threshold=threshold,
        hash_fn=hash_fn,
    )


def token_duplicated_ngram_fraction(
    df: DataFrame,
    *,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    shingle_k: int = 13,
    screened: bool = True,
) -> DataFrame:
    """Lee et al. 2022 train-train overlap IN TOKEN SPACE (the space the
    paper actually measures): the fraction of each sequence's distinct
    token k-grams that appear in >= 1 other sequence. Returns
    (``id_col``, n_shingles, n_duplicated, dup_fraction).

    ``screened=True`` (default — the 100 TB shape) routes through the
    duplicated-shingle Bloom screen: the doc-shingle relation never rides
    a shuffle and error is one-sided (overcount-only, ~1e-17/probe at
    gate scale). ``screened=False`` is the exact join-back form, kept as
    the oracle baseline."""
    base = df.select(
        F.col(id_col), tokens_canonical_text(F.col(tokens_col)).alias("__ttext")
    )
    fn = duplicated_ngram_fraction_screened if screened else duplicated_ngram_fraction
    return fn(base, text_col="__ttext", id_col=id_col, shingle_k=shingle_k)


def token_exact_substr_dedup(
    df: DataFrame,
    *,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 50,
    keep_first: bool = False,
) -> DataFrame:
    """ExactSubstr span removal IN TOKEN SPACE — Lee et al. 2022's actual
    setting (the paper excises repeated spans of ≥ k TOKENS): every id
    span of ≥ ``k`` tokens occurring more than once corpus-wide is cut
    from the sequence. ``exact_substr_dedup`` runs unchanged on the
    canonical rendering (a word span of the rendering IS a token span,
    and the excision cuts whole rendered words, so splitting the cleaned
    rendering back to ids is exact — injectivity again). Returns
    (``id_col``, tokens_clean, n_tok, n_removed_tokens, n_spans); every
    input row appears, clean sequences report 0 removed."""
    base = df.select(
        F.col(id_col), tokens_canonical_text(F.col(tokens_col)).alias("__ttext")
    )
    out = exact_substr_dedup(
        base, text_col="__ttext", id_col=id_col, k=k, keep_first=keep_first
    )
    toks_clean = F.transform(
        F.filter(
            F.split(F.col("text_clean"), " "), lambda w: F.length(w) > 0
        ),
        lambda w: w.cast("int"),
    )
    return out.select(
        F.col(id_col),
        toks_clean.alias("tokens_clean"),
        F.col("n_words").alias("n_tok"),
        F.col("n_removed_words").alias("n_removed_tokens"),
        F.col("n_spans"),
    )


def token_contamination_report(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    tokens_col: str = "tokens",
    bench_tokens_col: str | None = None,
    id_col: str = "doc_id",
    shingle_k: int = 13,
    shingle_impl: str = "expr",
) -> DataFrame:
    """Train/test contamination screen over PRE-TOKENIZED sequences (the
    GPT-3 appendix measures 13-GRAM TOKEN overlap): flag sequences
    sharing token ``shingle_k``-grams with a tokenized benchmark set.
    Same scale shape as the text form — benchmark distinct+broadcast,
    one corpus scan, (doc, n_grams, n_hits) triples as the only
    shuffle."""
    bt = bench_tokens_col or tokens_col
    base = df.select(
        F.col(id_col), tokens_canonical_text(F.col(tokens_col)).alias("__ttext")
    )
    bench = benchmark.select(
        tokens_canonical_text(F.col(bt)).alias("__ttext")
    )
    return contamination_report(
        base,
        bench,
        id_col=id_col,
        text_col="__ttext",
        shingle_k=shingle_k,
        shingle_impl=shingle_impl,
    )


def token_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    tokens_col: str = "tokens",
    bench_tokens_col: str | None = None,
    id_col: str = "doc_id",
    shingle_k: int = 13,
    max_frac: float = 0.0,
    shingle_impl: str = "expr",
) -> DataFrame:
    """Drop contaminated sequences, ALL original columns preserved:
    anti-join of ``df`` against the token contamination report's flagged
    ids (frac > ``max_frac``; default removes any overlap — the
    conservative eval-hygiene setting). Flagged-id set is
    report-cardinality, so the anti-join broadcasts."""
    flagged = token_contamination_report(
        df,
        benchmark,
        tokens_col=tokens_col,
        bench_tokens_col=bench_tokens_col,
        id_col=id_col,
        shingle_k=shingle_k,
        shingle_impl=shingle_impl,
    ).where(F.col("frac") > max_frac)
    return df.join(flagged.select(id_col), id_col, "left_anti")
