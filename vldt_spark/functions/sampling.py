"""Deterministic sampling for training-data pipelines.

``df.sample()`` draws from a per-partition RNG: results change with
partitioning, retries, and cluster size — useless for reproducible corpus
construction or resumable jobs. These operators key every decision off a
hash of a stable row key instead, so the same row makes the same decision
on any cluster, any partitioning, any retry:

  * deterministic_sample — keep a fraction (hash(key) mod M < frac·M)
  * stratified_cap       — at most n rows per group, chosen by hash rank
                           (caps hot domains in a web corpus; the window
                           partitions by group, never a global sort)

``hash_fn="md5"`` uses the portable 60-bit md5-prefix hash (see
functions/dedup._hash64) so the oracle gate value-checks both operators
against DuckDB.

COMPOSITION RULE: when chaining these operators on the same key column,
give each stage a DISTINCT ``seed``. A shared seed makes every stage see
the identical per-row hash, so decisions correlate completely — e.g.
rows surviving a 30% downsample all hash below 0.3 and would then all
land in a 98% 'train' split's first bucket, starving val/test
(jobs/build_corpus.py passes per-stage seeds for exactly this reason).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vldt_spark.frames import local_frame
from vldt_spark.functions.dedup import _hash64


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key_col: str,
    *,
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided by the row's key hash alone.
    One scan, no shuffle, no RNG state; filter pushes down to the scan
    when the key is a stored column."""
    m = 1_000_000
    h = F.pmod(_hash64(F.col(key_col).cast("string"), seed, hash_fn), F.lit(m))
    return df.where(h < int(fraction * m))


def stratified_cap(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    key_col: str,
    *,
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """At most ``n_per_group`` rows per group, selected by ascending key
    hash (a deterministic uniform draw). The window partitions by group —
    the shuffle key is the group column; per-reducer load is bounded by
    group size, and a WindowGroupLimit keeps only n rows per partition
    before the exchange on Spark 4."""
    h = F.pmod(_hash64(F.col(key_col).cast("string"), seed, hash_fn), F.lit(1_000_000_000))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= n_per_group)
        .drop("__rk")
    )


def split_assign(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    *,
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic train/val/test split: adds a ``split`` column chosen
    by the row's key hash against cumulative weight thresholds, so every
    row lands in the same split on any cluster, any retry, any
    partitioning — and membership is reproducible from the key alone (no
    stored split table needed). One projection, no shuffle; weights are
    normalized, declaration order fixes the threshold order."""
    return df.withColumn(
        "split", _split_expr(F.col(key_col), weights, seed=seed, hash_fn=hash_fn)
    )


def _split_expr(key, weights: dict[str, float], *, seed: int, hash_fn: str):
    """The split-assignment LAW as a column expression: hash the key,
    compare against cumulative weight thresholds. Shared by
    ``split_assign`` and the zero-shuffle weights path of
    ``split_leakage_report`` — both MUST agree bit-for-bit or the
    leakage matrix audits a different split than the one assigned."""
    if not weights:
        raise ValueError("split weights must name at least one split")
    tot = float(sum(weights.values()))
    if tot <= 0 or any(w < 0 for w in weights.values()):
        raise ValueError(
            f"split weights must be non-negative with a positive sum, got {weights}"
        )
    m = 1_000_000
    h = F.pmod(_hash64(key.cast("string"), seed, hash_fn), F.lit(m))
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / tot
        cond = h < int(round(cum * m))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def _pair_splits(
    pairs: DataFrame,
    *,
    splits: DataFrame | None,
    weights: dict[str, float] | None,
    id_cols: tuple[str, str],
    id_col: str,
    split_col: str,
    seed: int,
    hash_fn: str,
) -> DataFrame:
    """Attach ``__split_a``/``__split_b`` to a near-dup pair relation.

    Weights path (splits derived by ``split_assign``): the split is a
    pure hash function of the key, so it is RECOMPUTED row-locally from
    id_a/id_b — zero joins, zero shuffle, nothing but the pair relation
    is ever touched. Stored-table path: two id-keyed joins against the
    split table; at 10^12-row corpora pre-reduce the split table with a
    semi-join against the (far smaller) pair-id set so only ≤ 2·|pairs|
    split rows ride the exchange — AQE then broadcasts them."""
    a, b = id_cols
    if (splits is None) == (weights is None):
        raise ValueError("pass exactly one of splits= or weights=")
    if weights is not None:
        return pairs.withColumn(
            "__split_a", _split_expr(F.col(a), weights, seed=seed, hash_fn=hash_fn)
        ).withColumn(
            "__split_b", _split_expr(F.col(b), weights, seed=seed, hash_fn=hash_fn)
        )
    ids = (
        pairs.select(F.col(a).alias(id_col))
        .union(pairs.select(F.col(b).alias(id_col)))
        .distinct()
    )
    small = splits.join(ids, id_col, "left_semi").select(id_col, split_col)
    sa = small.select(F.col(id_col).alias(a), F.col(split_col).alias("__split_a"))
    sb = small.select(F.col(id_col).alias(b), F.col(split_col).alias("__split_b"))
    return pairs.join(sa, a).join(sb, b)


def split_assign_clustered(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    clusters: DataFrame,
    *,
    cluster_key_col: str = "doc_id",
    cluster_id_col: str = "cluster_id",
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Leakage-proof train/val/test split: hash the near-dup CLUSTER
    representative instead of the document key, so every member of a
    near-dup component lands in the same split and cross-split leakage
    (``split_leakage_report``) is structurally zero — the constructive
    fix to the Lee et al. 2022 §5 audit, not just its measurement.

    ``clusters`` is ``near_dup_clusters`` output (doc_id, cluster_id
    = min member id); documents in no cluster hash their own key, and a
    cluster's representative is itself a member, so singleton and
    clustered rows share one law. Determinism is preserved: the split
    is still a pure function of (cluster-or-self key, seed).

    Scale: the cluster relation holds only documents that COLLIDED in
    dedup (≤ 2·|pairs| rows — small next to the corpus), so it is
    broadcast onto the single fact scan; the corpus never shuffles.
    Same split proportions hold in expectation, now over clusters
    rather than documents — a corpus where near-dup mass is skewed into
    few huge clusters will show proportion drift, which
    ``mixture_gap_below``-style share checks catch downstream."""
    cl = F.broadcast(
        clusters.select(
            F.col(cluster_key_col).alias(key_col),
            F.col(cluster_id_col).alias("__cluster_id"),
        )
    )
    key = F.coalesce(F.col("__cluster_id"), F.col(key_col))
    return (
        df.join(cl, key_col, "left")
        .withColumn(
            "split", _split_expr(key, weights, seed=seed, hash_fn=hash_fn)
        )
        .drop("__cluster_id")
    )


def split_leakage_report(
    pairs: DataFrame,
    *,
    splits: DataFrame | None = None,
    weights: dict[str, float] | None = None,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
    id_col: str = "doc_id",
    split_col: str = "split",
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Cross-split near-duplicate leakage matrix (the dedup-aware split
    audit of Lee et al. 2022 §5 / the GPT-3 appendix-C concern): given a
    near-dup pair relation — minhash/simhash/embedding candidates or
    exact ``ngram_jaccard_pairs`` — count pairs by the (unordered) split
    pair they straddle. A nonzero (train, test) row means test documents
    have near-duplicates in train and eval numbers are contaminated.

    Pass ``weights=`` when splits come from ``split_assign`` (same
    weights/seed/hash_fn): the split is recomputed from each pair id
    row-locally — ZERO joins or shuffles beyond the one |splits|²-row
    aggregate. Pass ``splits=`` for a stored split table: the table is
    semi-joined down to the pair ids first, so only ≤ 2·|pairs| split
    rows ever ride an exchange regardless of corpus size.

    Returns (split_a, split_b, n_pairs, leaked) with split_a ≤ split_b,
    ``leaked`` = the pair straddles two splits."""
    j = _pair_splits(
        pairs, splits=splits, weights=weights, id_cols=id_cols,
        id_col=id_col, split_col=split_col, seed=seed, hash_fn=hash_fn,
    )
    lo = F.least("__split_a", "__split_b")
    hi = F.greatest("__split_a", "__split_b")
    return (
        j.select(lo.alias("split_a"), hi.alias("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("leaked", F.col("split_a") != F.col("split_b"))
    )


def split_leakage_drop_ids(
    pairs: DataFrame,
    protect: list[str] | set[str] | tuple[str, ...],
    *,
    splits: DataFrame | None = None,
    weights: dict[str, float] | None = None,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
    id_col: str = "doc_id",
    split_col: str = "split",
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The actionable half of the leakage audit: distinct NON-protected
    ids that near-duplicate a document in a protected split — the rows
    to anti-join out of train so val/test stay clean (dropping from
    train preserves the eval sets; dropping from eval would silently
    shrink the benchmark). Same splits=/weights= contract as
    ``split_leakage_report``. Output: one ``doc_id`` column, distinct —
    broadcast it back as an anti-join, the ``dedup_near`` pattern."""
    protect = set(protect)
    if not protect:
        raise ValueError("split_leakage_drop_ids: protect must name at least one split")
    a, b = id_cols
    j = _pair_splits(
        pairs, splits=splits, weights=weights, id_cols=id_cols,
        id_col=id_col, split_col=split_col, seed=seed, hash_fn=hash_fn,
    )
    in_prot_a = F.col("__split_a").isin(list(protect))
    in_prot_b = F.col("__split_b").isin(list(protect))
    drop_a = j.where(in_prot_b & ~in_prot_a).select(F.col(a).alias(id_col))
    drop_b = j.where(in_prot_a & ~in_prot_b).select(F.col(b).alias(id_col))
    return drop_a.union(drop_b).distinct()


def temperature_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    *,
    temperature: float = 0.7,
    target_fraction: float = 0.5,
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Temperature-weighted mixture sampling (the mC4 / XLM-R recipe for
    rebalancing a multi-source training corpus).

    With ``n_s`` rows in source ``s``, the target mixture gives source
    ``s`` probability mass p_s ∝ n_s^temperature; a temperature < 1
    flattens the mixture toward rare sources, temperature = 1 keeps raw
    proportions. The per-row acceptance rate that realizes the mixture at
    ``target_fraction`` of the corpus is

        r_s = min(1, target_fraction · N · n_s^τ / (Z · n_s)),  Z = Σ n_s^τ

    (capped at 1 — this operator filters, it never upsamples; a rare
    source whose rate saturates keeps every row, so the achieved mixture
    is the closest one reachable without repetition).

    Acceptance is decided by the row's key hash against floor(r_s · 10^6),
    so the sample is reproducible on any cluster, partitioning, or retry.

    Rows with a NULL group are dropped (they belong to no source, so no
    rate exists for them) and excluded from the totals, mirroring
    ``importance_sample``'s treatment of undefined weights.

    When composing with the other hash-keyed operators on the same key,
    pass distinct ``seed`` values per stage — see the COMPOSITION RULE in
    the module docstring.

    Scale: two tiny aggregates (per-source counts, then their 1-row
    totals) feed a rates table of |sources| rows that is explicitly
    broadcast back onto the fact scan — the fact table itself is never
    shuffled, and nothing is collected to the driver. ``hash_fn="md5"``
    is the portable path the oracle gate value-checks against DuckDB.
    """
    if temperature <= 0:
        raise ValueError(f"temperature_sample: temperature must be > 0, got {temperature}")
    if not (0 < target_fraction <= 1):
        raise ValueError(
            f"temperature_sample: target_fraction must be in (0, 1], got {target_fraction}"
        )
    df = df.where(F.col(group_col).isNotNull())
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).cast("double").alias("__cnt"))
    totals = counts.agg(
        F.sum("__cnt").alias("__tot"),
        F.sum(F.pow("__cnt", F.lit(temperature))).alias("__z"),
    )
    m = 1_000_000
    rates = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            group_col,
            F.floor(
                F.least(
                    F.lit(1.0),
                    F.lit(target_fraction)
                    * F.col("__tot")
                    * F.pow("__cnt", F.lit(temperature))
                    / F.col("__z")
                    / F.col("__cnt"),
                )
                * m
            ).alias("__thr"),
        )
    )
    h = F.pmod(_hash64(F.col(key_col).cast("string"), seed, hash_fn), F.lit(m))
    return (
        df.join(F.broadcast(rates), group_col)
        .where(h < F.col("__thr"))
        .drop("__thr")
        .select(*df.columns)
    )


def importance_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    *,
    target_fraction: float,
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Weight-proportional (importance) sampling: row i is kept with
    probability min(1, target_fraction · N · w_i / Σw) — the standard
    quality-weighted corpus-curation draw (keep ~target_fraction of the
    corpus, high-weight documents preferentially). Rows with null or
    non-positive weight are dropped.

    Membership is the row's key hash against floor(rate_i · 10^6), so the
    sample is identical on any cluster, partitioning, or retry. Scale: one
    1-row weight-total aggregate broadcast back onto the scan — the fact
    table is never shuffled, nothing reaches the driver.
    """
    if not (0 < target_fraction <= 1):
        raise ValueError(
            f"importance_sample: target_fraction must be in (0, 1], got {target_fraction}"
        )
    pos = df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
    totals = pos.agg(
        F.count(F.lit(1)).cast("double").alias("__tot_n"),
        F.sum(F.col(weight_col).cast("double")).alias("__tot_w"),
    )
    m = 1_000_000
    h = F.pmod(_hash64(F.col(key_col).cast("string"), seed, hash_fn), F.lit(m))
    thr = F.floor(
        F.least(
            F.lit(1.0),
            F.lit(target_fraction)
            * F.col("__tot_n")
            * F.col(weight_col).cast("double")
            / F.col("__tot_w"),
        )
        * m
    )
    return (
        pos.crossJoin(F.broadcast(totals))
        .where(h < thr)
        .select(*df.columns)
    )


def mixture_report(
    before: DataFrame,
    after: DataFrame,
    group_col: str,
    *,
    temperature: float,
) -> DataFrame:
    """Audit a mixture: per source, the share ``after`` actually achieved
    vs the n^temperature target computed from ``before`` — the feedback
    half of ``temperature_sample``. Rate-saturated sources (rare ones
    whose acceptance capped at 1) cannot reach their target, so the
    achieved mixture legitimately deviates; this report quantifies by how
    much (``share_gap`` = achieved − target, positive means
    over-represented).

    Returns (group, n_before, n_after, target_share, achieved_share,
    share_gap), all shares rounded to 6 decimals. Scale: two per-source
    count aggregates plus |sources|-row arithmetic — no fact shuffle.
    """
    if temperature <= 0:
        raise ValueError(f"mixture_report: temperature must be > 0, got {temperature}")
    b = (
        before.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_before"))
    )
    a = (
        after.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    j = b.join(a, group_col, "left").fillna(0, subset=["n_after"])
    tz = j.agg(
        F.sum(F.pow(F.col("n_before").cast("double"), F.lit(temperature))).alias("__z"),
        F.sum("n_after").cast("double").alias("__ta"),
    )
    j = j.crossJoin(F.broadcast(tz))
    target = F.pow(F.col("n_before").cast("double"), F.lit(temperature)) / F.col("__z")
    achieved = F.coalesce(
        F.try_divide(F.col("n_after").cast("double"), F.col("__ta")), F.lit(0.0)
    )
    return j.select(
        group_col,
        "n_before",
        "n_after",
        F.round(target, 6).alias("target_share"),
        F.round(achieved, 6).alias("achieved_share"),
        F.round(achieved - target, 6).alias("share_gap"),
    )


def mixture_epochs(
    df: DataFrame,
    group_col: str,
    key_col: str,
    token_col: str,
    target_shares: dict[str, float],
    *,
    total_tokens: float | None = None,
    max_epochs: float = 4.0,
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Token-budget mixture epochs: materialize a training corpus where
    each source is REPEATED (or thinned) to hit a target token mixture —
    the "epochs per source" recipe from The Pile / Llama data cards,
    where up-weighted sources (books, wiki) are seen >1 epoch per
    training pass and bulk web <1.

    Given target token shares ``w_s`` (normalized over the named
    sources) and a token budget ``B`` (default: the input corpus's total
    tokens, so the output stays the same size while the mixture is
    reshaped), source ``s`` must contribute ``w_s·B`` tokens; with
    ``T_s`` actual tokens its epoch count is

        e_s = min(max_epochs, w_s · B / T_s)

    — a value < 1 thins the source, > 1 repeats it, and the cap bounds
    repetition of tiny sources (repeating past ~4 epochs measurably
    degrades models — Muennighoff et al. 2023, "Scaling Data-Constrained
    Language Models"). Every document in ``s`` is emitted
    ``floor(e_s)`` times, plus one extra copy iff ``hash(key, seed) mod
    10^6 < frac(e_s)·10^6`` — so the expected token mass per source is
    exactly ``min(max_epochs, w_s·B/T_s)·T_s`` and each row's copy count
    is a pure function of its key: reproducible on any cluster, any
    partitioning, any retry. Sources not named in ``target_shares`` are
    dropped; rows with a NULL group or non-positive token count are
    dropped before totals (they carry no token mass).

    Output: the input columns plus ``epoch`` (1-based copy index).
    Downstream, feed ``corpus_shuffle`` keyed on (key, epoch) so copies
    of a document land in different shards / far-apart positions.

    Scale: one |sources|-row token-total aggregate, a 1-row budget
    aggregate, and a literal shares relation — all broadcast back onto
    the single fact scan; the copy fan-out is a row-local
    ``explode(sequence(...))``. The fact table is never shuffled and
    nothing is collected to the driver. ``hash_fn="md5"`` is the
    portable path the oracle gate value-checks against DuckDB.
    """
    if not target_shares:
        raise ValueError("mixture_epochs: target_shares must name at least one source")
    tot_w = float(sum(target_shares.values()))
    if tot_w <= 0 or any(w < 0 for w in target_shares.values()):
        raise ValueError(
            f"mixture_epochs: shares must be non-negative with a positive sum, got {target_shares}"
        )
    if max_epochs <= 0:
        raise ValueError(f"mixture_epochs: max_epochs must be > 0, got {max_epochs}")
    if total_tokens is not None and total_tokens <= 0:
        raise ValueError(f"mixture_epochs: total_tokens must be > 0, got {total_tokens}")
    df = df.where(
        F.col(group_col).isNotNull()
        & F.col(token_col).isNotNull()
        & (F.col(token_col) > 0)
    )
    toks = df.groupBy(group_col).agg(
        F.sum(F.col(token_col).cast("double")).alias("__tok")
    )
    shares = local_frame(
        df.sparkSession,
        [(k, v / tot_w) for k, v in target_shares.items()],
        f"{group_col} string, __share double",
    )
    ep = toks.join(F.broadcast(shares), group_col, "inner")
    if total_tokens is None:
        budget = toks.agg(F.sum("__tok").alias("__budget"))
        ep = ep.crossJoin(F.broadcast(budget))
    else:
        ep = ep.withColumn("__budget", F.lit(float(total_tokens)))
    m = 1_000_000
    eps = F.least(
        F.lit(float(max_epochs)),
        F.col("__share") * F.col("__budget") / F.col("__tok"),
    )
    ep = ep.select(
        group_col,
        F.floor(eps).cast("int").alias("__full"),
        F.floor((eps - F.floor(eps)) * m).cast("long").alias("__thr"),
    )
    h = F.pmod(_hash64(F.col(key_col).cast("string"), seed, hash_fn), F.lit(m))
    n = F.col("__full") + F.when(h < F.col("__thr"), F.lit(1)).otherwise(F.lit(0))
    return (
        df.join(F.broadcast(ep), group_col)
        .withColumn("__n", n)
        .where(F.col("__n") >= 1)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("__n"))))
        .select(*df.columns, "epoch")
    )


def mixture_epochs_report(
    before: DataFrame,
    after: DataFrame,
    group_col: str,
    token_col: str,
    target_shares: dict[str, float],
) -> DataFrame:
    """Audit a mixture-epochs materialization: per named source, the
    token share ``after`` actually achieved vs the normalized target —
    plus the realized epoch count (tokens_after / tokens_before). A
    source whose epochs hit the cap cannot reach its target; the gap
    column quantifies by how much (positive = over-represented).

    Returns (group, docs_before, docs_after, tokens_before,
    tokens_after, epochs_realized, target_share, achieved_share,
    share_gap); shares/epochs rounded half-up to 6 decimals. Scale: two
    |sources|-row aggregates + a 1-row total — no fact shuffle.
    """
    if not target_shares:
        raise ValueError("mixture_epochs_report: target_shares must name at least one source")
    tot_w = float(sum(target_shares.values()))
    if tot_w <= 0:
        raise ValueError("mixture_epochs_report: shares must have a positive sum")
    shares = local_frame(
        before.sparkSession,
        [(k, v / tot_w) for k, v in target_shares.items()],
        f"{group_col} string, __share double",
    )
    tok = F.col(token_col).cast("double")
    b = (
        before.where(F.col(group_col).isNotNull() & (tok > 0))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("docs_before"), F.sum(tok).alias("tokens_before"))
    )
    a = after.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("docs_after"), F.sum(tok).alias("tokens_after")
    )
    j = (
        shares.join(b, group_col, "left")
        .join(a, group_col, "left")
        .fillna(0, subset=["docs_before", "docs_after", "tokens_before", "tokens_after"])
    )
    ta = j.agg(F.sum("tokens_after").alias("__ta"))
    j = j.crossJoin(F.broadcast(ta))
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731 — half-up, DuckDB-portable
    achieved = F.coalesce(F.try_divide(F.col("tokens_after"), F.col("__ta")), F.lit(0.0))
    epochs = F.coalesce(
        F.try_divide(F.col("tokens_after"), F.col("tokens_before")), F.lit(0.0)
    )
    return j.select(
        group_col,
        "docs_before",
        "docs_after",
        F.col("tokens_before").cast("double").alias("tokens_before"),
        F.col("tokens_after").cast("double").alias("tokens_after"),
        r6(epochs).alias("epochs_realized"),
        r6(F.col("__share")).alias("target_share"),
        r6(achieved).alias("achieved_share"),
        r6(achieved - F.col("__share")).alias("share_gap"),
    )


def corpus_shuffle(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    *,
    seed: int = 0,
    hash_fn: str = "xxhash64",
    with_pos: bool = False,
) -> DataFrame:
    """Deterministic global training-order shuffle + shard assignment.

    Training runs read the corpus in a randomized order, but the order
    must be REPRODUCIBLE (resume from step k, re-run a job, compare two
    runs) — ``df.orderBy(rand())`` is none of those. This operator keys
    the whole permutation off the row key alone:

      * ``shard``     = pmod(hash(key, seed), n_shards) — which output
                        shard the row belongs to;
      * ``order_key`` = hash(key, seed+1) — the row's position DRAW
                        within its shard (a distinct salt, so shard
                        routing and intra-shard order don't correlate).

    Same row → same (shard, order_key) on any cluster, any partitioning,
    any retry. Writing the shuffled corpus is then
    ``out.repartition(n_shards, "shard").sortWithinPartitions("order_key",
    key_col)`` — ONE hash exchange keyed by shard plus a per-partition
    sort; no global range sort, no driver state. Readers stream each
    shard file in stored order.

    ``with_pos=True`` additionally materializes a dense 1-based ``pos``
    (row_number per shard ordered by ``order_key``, key as tie-break) for
    small/medium corpora and for the oracle gate. At 10^12 rows leave it
    off: a dense per-shard counter forces each whole shard through one
    window reducer, and stored order already IS the permutation —
    positions add nothing a reader needs.

    ``hash_fn="md5"`` is the portable path (DuckDB-computable), which
    value-checks the full permutation in the oracle gate.
    """
    if n_shards <= 0:
        raise ValueError(f"corpus_shuffle: n_shards must be > 0, got {n_shards}")
    k = F.col(key_col).cast("string")
    out = df.withColumn(
        "shard", F.pmod(_hash64(k, seed, hash_fn), F.lit(n_shards)).cast("int")
    ).withColumn("order_key", _hash64(k, seed + 1, hash_fn))
    if with_pos:
        w = Window.partitionBy("shard").orderBy(
            F.col("order_key").asc(), F.col(key_col).asc()
        )
        out = out.withColumn("pos", F.row_number().over(w))
    return out
