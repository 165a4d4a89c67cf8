"""Token-vocabulary operators over pre-tokenized training sequences.

These run on the BASELINE input_hint shape — (doc_id string, tokens
array<int32>, n_tok int32, source string) — and answer the questions a
training-data owner asks of a 10^12-sequence corpus: what is the unigram
token distribution (for sampling temperature / vocab pruning), which
sequences carry out-of-vocabulary ids (tokenizer/version drift), what
fraction of the vocab is actually exercised, and what are the dominant
token bigrams (template/boilerplate detection).

Scale design:
- `token_histogram` is a native `explode(tokens)` → groupBy(token)
  count, with no Python worker.  The explode never reaches the
  exchange: the partial hash aggregate runs in the explode's stage
  (map-side combine), so the exchange carries at most
  |distinct tokens| + 1 rows per PARTITION (not per token) and the
  final groupBy(token) is a |vocab|-sized aggregate.  Same
  partial-then-final shape as the uniqueness check's map-side-combined
  count.  A `mapInArrow` numpy `bincount` fold has the same per-token
  cost plus shipping every token array across the Arrow boundary (and
  a fixed start-up cost in each Python worker's first task;
  DEVELOPING.md), so the count stays native.
- `oov_report` is one hash aggregate over row-local expressions.  A
  clean row evaluates no lambda: the lambda-free `array_min`/`array_max`
  and `array_intersect` kernels decide whether a row holds an
  out-of-range id or a NULL element, and only such rows run the
  per-element `filter` that counts them.  `vocab_coverage` is built on
  `token_histogram`.
- `token_bigram_topk` is native too: adjacent pairs from two `slice`s
  zipped and exploded, packed into one bigint key (a * vocab + b) and
  counted with a map-side-combined aggregate, so the shuffle carries
  distinct-bigrams-per-partition, bounded by |vocab|², typically ≪ data.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vldt_spark.cells import Cells
from vldt_spark.coercion import elements_outside, has_null_element
from vldt_spark.rounding import round6_vec


def _arrow_flat_tokens(list_arr) -> "tuple[np.ndarray, np.ndarray]":
    """Flatten one Arrow list<int> column to ``(flat int64, lens int64)``
    with ZERO per-row Python: ``lens[i]`` is row i's element count (NULL
    array → 0, contributing nothing to ``flat``), and ``flat`` is every
    row's elements concatenated in row order with NULL elements mapped to
    -1.  ``pc.list_flatten`` respects slices and skips null lists, so
    ``flat`` segments align exactly with the nonzero entries of ``lens``
    — the shape `np.add.reduceat` wants."""
    import pyarrow.compute as pc

    lens = (
        pc.fill_null(pc.list_value_length(list_arr), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    flat = (
        pc.fill_null(pc.list_flatten(list_arr), -1)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    return flat, lens


def token_histogram(
    df: DataFrame, vocab_size: int, tokens_col: str = "tokens"
) -> DataFrame:
    """Exact unigram token counts: (token long, cnt long).

    A native plan, no Python worker: ``explode(tokens)``, ids outside
    [0, vocab_size) and NULL elements folded to token = -1 with one
    ``when``, then ``groupBy(token).count()``.  The partial hash
    aggregate runs in the explode's stage, so the exchange carries at
    most |distinct tokens| + 1 ``(token, cnt)`` rows per partition and
    the token arrays never cross it.  The -1 row conserves the total
    (callers can split OOV out; see `oov_report` for the rate view);
    NULL and empty arrays add nothing.  The counts do not depend on
    partitioning, AQE or row order.
    """
    t = F.col("__t")
    token = F.when((t >= 0) & (t < vocab_size), t).otherwise(F.lit(-1))
    return (
        df.select(F.explode(tokens_col).alias("__t"))
        .groupBy(token.cast("long").alias("token"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def oov_report(
    df: DataFrame,
    vocab_size: int,
    tokens_col: str = "tokens",
    by: str = "source",
) -> DataFrame:
    """Per-group OOV audit: total tokens, OOV tokens (NULL element or id
    outside [0, vocab_size)), and the OOV rate.  Row-local expressions +
    one hash aggregate — partial aggregation makes the shuffle |groups|-
    sized.

    Each count runs only on the rows a lambda-free verdict picks
    (conditional evaluation, as in the fused validation pass): NULL
    elements are ``size(t) − size(array_compact(t))`` where
    `has_null_element` finds one, since ``array_compact`` plans as
    ``filter(t, x -> x IS NOT NULL)``; out-of-range ids are a ``filter``
    where `elements_outside` finds one."""
    t = F.col(tokens_col)
    elem_dt = df.schema[tokens_col].dataType.elementType
    n_tok = F.coalesce(F.size(t), F.lit(0))
    n_null = F.when(
        t.isNotNull() & has_null_element(t, elem_dt), F.size(t) - F.size(F.array_compact(t))
    ).otherwise(F.lit(0))
    n_range = F.when(
        elements_outside(t, elem_dt, lo=0, hi=vocab_size - 1),
        F.size(F.filter(t, lambda x: (x < 0) | (x >= vocab_size))),
    ).otherwise(F.lit(0))
    oov = n_null + n_range
    return (
        df.select(
            F.col(by),
            n_tok.alias("__n"),
            oov.alias("__oov"),
        )
        .groupBy(by)
        .agg(
            F.sum("__n").alias("total_tokens"),
            F.sum("__oov").alias("oov_tokens"),
            F.round(
                F.sum("__oov") / F.greatest(F.sum("__n"), F.lit(1)), 6
            ).alias("oov_rate"),
        )
    )


def vocab_coverage(
    df: DataFrame, vocab_size: int, tokens_col: str = "tokens"
) -> DataFrame:
    """One-row corpus summary: distinct in-vocab tokens observed, the
    coverage fraction, and the observed min/max token id.  Built on
    `token_histogram`, so the full arrays never shuffle."""
    hist = token_histogram(df, vocab_size, tokens_col=tokens_col)
    in_vocab = hist.where(F.col("token") >= 0)
    return in_vocab.agg(
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.round(F.count(F.lit(1)) / F.lit(float(vocab_size)), 6).alias(
            "vocab_coverage"
        ),
        F.min("token").alias("min_token"),
        F.max("token").alias("max_token"),
        F.sum("cnt").alias("in_vocab_tokens"),
    )


def token_bigram_topk(
    df: DataFrame,
    vocab_size: int,
    k: int = 25,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Top-k token bigrams by exact count, deterministic tie-break
    (cnt DESC, tok_a ASC, tok_b ASC).

    A native plan, no Python worker: the adjacent pairs of each row are
    ``explode(arrays_zip(slice(t, 1, n-1), slice(t, 2, n-1)))`` with
    n-1 floored at 0 (NULL, empty and length-1 arrays give none).  NULL
    elements and out-of-vocab ids break the bigram (both pairs
    containing them are dropped), matching the SQL oracle's NULL/range
    filter.  Each pair packs into one bigint key a·V + b, and the count
    is a map-side-combined aggregate, as in `token_histogram`: the
    exchange carries distinct bigrams per partition (bounded by
    |vocab|²), never the exploded pair stream."""
    V = vocab_size
    t = F.col(tokens_col)
    n = F.greatest(F.size(t) - 1, F.lit(0))
    pair = F.explode(F.arrays_zip(F.slice(t, 1, n), F.slice(t, 2, n))).alias("__p")
    a, b = F.col("__p")["0"], F.col("__p")["1"]
    # a comparison with a NULL element is NULL, which drops the pair too
    in_vocab = (a >= 0) & (a < V) & (b >= 0) & (b < V)
    totals = (
        df.select(pair)
        .where(in_vocab)
        .groupBy((a.cast("long") * V + b).alias("key"))
        # sum(1) rather than count: cnt keeps the nullable long type the
        # table has always had
        .agg(F.sum(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    ranked = totals.select(
        F.floor(F.col("key") / V).cast("long").alias("tok_a"),
        (F.col("key") % V).cast("long").alias("tok_b"),
        "cnt",
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(
                F.col("cnt").desc(), F.col("tok_a").asc(), F.col("tok_b").asc()
            )
        ),
    )
    # global Window.orderBy is a single-partition sort — fine here because
    # its input is the |vocab|²-bounded totals, not the corpus.
    return ranked.where(F.col("rank") <= k).select(
        "rank", "tok_a", "tok_b", "cnt"
    )


def special_token_violations(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    bos: int | None = None,
    eos: int | None = None,
    forbidden: list[int] | None = None,
) -> DataFrame:
    """Sequence-structure validation of pre-tokenized rows: the
    token-native analogue of the engine's per-field constraints, with the
    same (id, path, msg) violation lineage shape.

    Checks (each optional):
    - ``bos``: the BOS id must appear at position 0 and NOWHERE else;
    - ``eos``: the EOS id must appear at the last position and nowhere
      else (a mid-sequence EOS means two documents were packed without
      resetting attention — the classic contamination bug);
    - ``forbidden``: ids that must not appear at all (e.g. special/pad
      ids leaking into training text).

    Row-local Catalyst HOFs only (filter/exists over the array — no
    explode, no shuffle, no UDF): violations materialize with
    ``tokens.<i>`` paths so they union straight into the engine's
    violation table.
    """
    checks = []
    toks = F.col(tokens_col)

    def bad_positions(pred):
        # empty sequences yield no positions (and no violations here —
        # emptiness itself is a min_size field constraint, not a
        # special-token placement error)
        idx = F.when(
            F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.filter(idx, pred)

    if bos is not None:
        checks.append(
            (
                bad_positions(
                    lambda i: (F.element_at(toks, i + 1) == F.lit(bos)) & (i != 0)
                ),
                F.lit(f"special token BOS({bos}) not at position 0"),
            )
        )
        checks.append(
            (
                F.when(
                    (F.size(toks) > 0)
                    & (F.element_at(toks, 1) != F.lit(bos)),
                    F.array(F.lit(0)),
                ).otherwise(F.array().cast("array<int>")),
                F.lit(f"sequence does not start with BOS({bos})"),
            )
        )
    if eos is not None:
        checks.append(
            (
                bad_positions(
                    lambda i: (F.element_at(toks, i + 1) == F.lit(eos))
                    & (i != F.size(toks) - 1)
                ),
                F.lit(f"special token EOS({eos}) before sequence end"),
            )
        )
    def _forbidden_pred(fid):
        # factory, not a defaulted second lambda param — F.filter treats
        # two-parameter lambdas as (element, index)
        return lambda i: F.element_at(toks, i + 1) == F.lit(fid)

    for fid in forbidden or []:
        checks.append(
            (
                bad_positions(_forbidden_pred(fid)),
                F.lit(f"forbidden token id {fid} present"),
            )
        )
    if not checks:
        raise ValueError("give at least one of bos/eos/forbidden")

    def _arm(pos, msg):
        # NB: a two-parameter lambda would be interpreted by F.transform
        # as (element, index) — close over msg with a factory instead
        return F.transform(
            pos,
            lambda i: F.struct(
                F.concat(F.lit(f"{tokens_col}."), i.cast("string")).alias("path"),
                msg.alias("msg"),
            ),
        )

    arms = F.array(*[_arm(pos, msg) for pos, msg in checks])
    out = df.select(
        F.col(id_col),
        F.explode(F.flatten(arms)).alias("__v"),
    )
    return out.select(id_col, F.col("__v.path").alias("path"), F.col("__v.msg").alias("msg"))


def _flat_sequence_stats(
    flat: np.ndarray, lens: np.ndarray
) -> "tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]":
    """Per-row ``(n_distinct, max_run, Σ c·ln c, top count)`` of one
    flattened batch (`_arrow_flat_tokens`' ``(flat, lens)``) with no
    per-row Python.

    One sort of the int64 key ``row·span + (token − min)`` puts every
    row's equal tokens next to each other, row by row; its groups give
    the per-(row, token) counts, so ``n_distinct`` is a ``bincount`` of
    the group rows, Σ c·ln c a weighted one (counts > 1 only: ln 1 = 0),
    and the top count a ``maximum.reduceat`` over each row's groups.
    ``max_run`` comes from the run boundaries in the original order.
    When ``row·span`` could overflow int64 (int64 ids far apart) the
    sort is ``np.lexsort((flat, row))`` instead.  Rows with no tokens
    get zeros."""
    m, n = lens.size, flat.size
    run = np.zeros(m, dtype=np.int64)
    top = np.zeros(m, dtype=np.int64)
    if not n:
        return np.zeros(m, dtype=np.int64), run, np.zeros(m), top
    nz = lens > 0
    row = np.repeat(np.arange(m, dtype=np.int64), lens)
    starts = (np.cumsum(lens) - lens)[nz]
    new = np.empty(n, dtype=bool)

    def firsts(v: np.ndarray) -> np.ndarray:
        # start of every run of equal values that does not cross a row
        np.not_equal(v[1:], v[:-1], out=new[1:])
        new[starts] = True
        return np.flatnonzero(new)

    lo = int(flat.min())
    span = int(flat.max()) - lo + 1
    if m * span < 2**63:
        key = np.sort(row * span + (flat - lo))
    else:
        key = flat[np.lexsort((flat, row))]
    # the sort keeps every row in its own slice, so a group's row is the
    # row of its first position
    first = firsts(key)
    counts = np.diff(np.append(first, n))
    grow = row[first]
    nd = np.bincount(grow, minlength=m)
    dup = counts > 1
    c = counts[dup]
    s = np.bincount(grow[dup], weights=c * np.log(c), minlength=m)
    top[nz] = np.maximum.reduceat(counts, (np.cumsum(nd) - nd)[nz])
    brk = firsts(flat)
    run[nz] = np.maximum.reduceat(
        np.diff(np.append(brk, n)), np.searchsorted(brk, starts)
    )
    return nd, run, s, top


def sequence_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Per-sequence degenerate-content audit over the input_hint token
    shape: for each sequence report

    - ``n_tok`` — token count,
    - ``n_distinct`` — distinct token ids,
    - ``distinct_ratio`` — n_distinct / n_tok (≈0 for looping output),
    - ``entropy`` — unigram Shannon entropy in nats
      (``ln n − Σ c·ln c / n``; 0 for a constant sequence),
    - ``max_run`` — longest run of one token repeated consecutively
      (the classic degenerate-generation signature),
    - ``top_share`` — share held by the single most frequent token.

    These are the sequence-level quality gates a 10^12-sequence corpus
    owner runs before training: low entropy / distinct_ratio or a long
    max_run marks gibberish, boilerplate loops, or decoder collapse.

    Scale shape: strictly ROW-LOCAL — one mapInArrow pass per partition,
    zero exchanges; the plan is scan → MapInArrow.  The Arrow list column
    is flattened zero-copy ONCE (`_arrow_flat_tokens` — no pandas list
    materialization), and the whole batch is reduced by one flat kernel
    (`_flat_sequence_stats`: one int64 sort, then bincount/reduceat per
    row) with no Python loop over rows.  Sorting each row on its own
    was slower at every batch size measured (numpy 1.26, one 4-vCPU
    Xeon core, vocab 50,257, lognormal lengths): 0.34 → 0.22 s per
    10k-row batch (3.5M tokens, uniform or zipf ids), 2.2 → 1.7 s at 60k
    rows (21M tokens).  At any corpus size the cost is one streaming
    read of the token column.  NULL elements count as token id -1 (the
    same convention as `token_histogram`); a NULL or empty array yields n_tok = 0 with NULL
    ratio/entropy/top_share.  Floats use half-up 6-decimal rounding.
    """
    id_dtype = df.schema[id_col].dataType.simpleString()

    def stats(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            flat, lens = _arrow_flat_tokens(batch.column(1))
            nd, run, s, top = _flat_sequence_stats(flat, lens)
            null_mask = lens == 0
            # masked rows divide by 1, not 0
            n = np.where(null_mask, 1, lens)
            ratio = round6_vec(nd / n)
            ent = round6_vec(np.log(n) - s / n)
            top_share = round6_vec(top / n)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(lens.astype(np.int32), type=pa.int32()),
                    pa.array(nd.astype(np.int32), type=pa.int32()),
                    pa.array(ratio, type=pa.float64(), mask=null_mask),
                    pa.array(ent, type=pa.float64(), mask=null_mask),
                    pa.array(run.astype(np.int32), type=pa.int32()),
                    pa.array(top_share, type=pa.float64(), mask=null_mask),
                ],
                names=[
                    id_col, "n_tok", "n_distinct", "distinct_ratio",
                    "entropy", "max_run", "top_share",
                ],
            )

    return df.select(id_col, tokens_col).mapInArrow(
        stats,
        schema=(
            f"{id_col} {id_dtype}, n_tok int, n_distinct int,"
            " distinct_ratio double, entropy double, max_run int,"
            " top_share double"
        ),
    )


def zipf_report(
    df: DataFrame, vocab_size: int, tokens_col: str = "tokens"
) -> DataFrame:
    """Corpus rank-frequency sanity check: OLS fit of ln(count) against
    ln(rank) over the exact unigram histogram (rank 1 = most frequent,
    ties broken by token id).  Natural text follows Zipf's law with a
    slope near -1; a much flatter or steeper slope flags synthetic,
    templated, or corrupted corpora — a distribution-shape validation
    no single-column stat catches.

    Returns one row: ``n_vocab`` (distinct in-vocab tokens observed),
    ``zipf_slope``, ``zipf_intercept``, ``r2`` (squared Pearson
    correlation of the log-log points).

    Scale shape: built on `token_histogram`'s map-side-combined count,
    so token arrays never ride a shuffle; the rank window and
    the regression aggregate run over the |vocab|-bounded histogram
    (fine to |vocab| in the millions — it is one narrow sort, not a
    corpus sort).  Returns NULL slope when fewer than two distinct
    tokens exist (var(ln rank) = 0).
    """
    from pyspark.sql import Window

    hist = token_histogram(df, vocab_size, tokens_col=tokens_col).where(
        F.col("token") >= 0
    )
    ranked = hist.select(
        F.log(F.col("cnt")).alias("__y"),
        F.log(
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), F.col("token").asc()))
            .cast("double")
        ).alias("__x"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.covar_pop("__y", "__x").alias("__cov"),
        F.var_pop("__x").alias("__vx"),
        F.avg("__x").alias("__mx"),
        F.avg("__y").alias("__my"),
        F.corr("__y", "__x").alias("__r"),
    )
    slope = F.when(F.col("__vx") > 0, F.col("__cov") / F.col("__vx"))
    return agg.select(
        F.col("n_vocab"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.col("__my") - slope * F.col("__mx"), 6).alias(
            "zipf_intercept"
        ),
        F.round(F.col("__r") * F.col("__r"), 6).alias("r2"),
    )


def degenerate_flag(
    tokens_col,
    *,
    max_run: int = 100,
    min_entropy: float | None = None,
):
    """Boolean column: True when a sequence is degenerate — NULL/empty,
    one token repeated ≥ ``max_run`` times consecutively, or (when
    ``min_entropy`` is set) unigram entropy below it.  A stateless Arrow
    UDF over `sequence_stats`' batch kernel (`_flat_sequence_stats`, no
    per-row Python), so it composes into any plan, streaming
    aggregations included, and agrees with `sequence_stats` on every
    row, half-up 6-decimal entropy rounding included."""

    @F.arrow_udf("boolean")
    def flag(tokens: pa.Array) -> pa.Array:
        flat, lens = _arrow_flat_tokens(tokens)
        _, run, s, _ = _flat_sequence_stats(flat, lens)
        bad = (lens == 0) | (run >= max_run)
        if min_entropy is not None:
            n = np.where(lens == 0, 1, lens)
            bad |= round6_vec(np.log(n) - s / n) < min_entropy
        return pa.array(bad, type=pa.bool_())

    col = tokens_col if isinstance(tokens_col, Column) else F.col(tokens_col)
    return flag(col)


def degenerate_cells(tokens: Column, *, max_run: int = 100, min_entropy: float | None = None) -> Cells:
    """The degenerate-share family's cells, shared by
    `streaming.seq_stream.stream_degenerate_share` and
    ``expect.degenerate_sequence_share_below``: n_seqs and n_degenerate
    (`degenerate_flag`).  Every row counts: a NULL or empty sequence is
    degenerate."""
    flag = degenerate_flag(tokens, max_run=max_run, min_entropy=min_entropy)
    return Cells(F.lit(True), {"n_seqs": F.lit(1), "n_degenerate": flag.cast("long")})


def token_affix_report(
    df: DataFrame,
    *,
    k: int = 16,
    side: str = "prefix",
    min_docs: int = 2,
    top: int = 25,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Boilerplate-affix audit over pre-tokenized sequences: which exact
    first-``k`` (``side="prefix"``) or last-``k`` (``side="suffix"``)
    token-id slices are shared by ``min_docs``+ sequences.  Shared
    affixes mark templated headers/footers — licence banners, prompt
    scaffolds, chat-format preambles — that exact whole-sequence dedup
    misses (the bodies differ) and that inflate n-gram duplication
    metrics without being actionable.  The report names the template so
    a cleaning pass can strip it.

    Returns ``(rank, affix array<int>, n_docs, exemplar_id, doc_share)``
    ranked by (n_docs DESC, exemplar_id ASC) and cut to ``top`` rows;
    ``doc_share`` is n_docs over the sequences long enough to have the
    affix (size ≥ k), half-up-rounded to 6dp.

    Scale shape: one scan; the groupBy key is the k-int slice itself, so
    with partial aggregation the exchange carries
    distinct-affixes-per-partition rows of ~4k bytes each — for the
    useful k range (8-64) that is at or below the width of carrying a
    hash + exemplar and needs no join-back to render the template.  The
    ranking window runs over the ≥min_docs survivors only (duplicated
    affixes, a vanishing fraction of a web corpus), and the one-row
    eligible-total joins back via broadcast.  For k ≫ 64 group on
    ``xxhash64(cast(slice as string))`` and re-attach one exemplar slice
    by joining the top rows back on exemplar_id (two scans, 8-byte
    keys); not the default because it forks the oracle-checkable shape.
    """
    if side not in ("prefix", "suffix"):
        raise ValueError("side must be 'prefix' or 'suffix'")
    toks = F.col(tokens_col)
    sl = (
        F.slice(toks, 1, k)
        if side == "prefix"
        else F.slice(toks, -k, k)
    )
    eligible = df.where(F.size(toks) >= k).select(
        sl.alias("affix"), F.col(id_col).alias("__id")
    )
    grouped = eligible.groupBy("affix").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("__id").alias("exemplar_id"),
    )
    total = eligible.agg(F.count(F.lit(1)).alias("__total"))
    from pyspark.sql import Window

    ranked = (
        grouped.where(F.col("n_docs") >= min_docs)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(
                    F.col("n_docs").desc(), F.col("exemplar_id").asc()
                )
            ),
        )
        .where(F.col("rank") <= top)
    )
    # the global window sorts only the ≥min_docs survivors (bounded);
    # the 1-row total is a broadcast-nested-loop attach.
    return ranked.crossJoin(F.broadcast(total)).select(
        "rank",
        "affix",
        "n_docs",
        "exemplar_id",
        F.round(
            F.col("n_docs") / F.greatest(F.col("__total"), F.lit(1)), 6
        ).alias("doc_share"),
    )


def strip_affix(
    df: DataFrame,
    *,
    k: int = 16,
    side: str = "prefix",
    min_docs: int = 2,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Cleaning companion to `token_affix_report`: remove the first-``k``
    (or last-``k``) tokens from every sequence whose affix is shared by
    ``min_docs``+ sequences — the report names the boilerplate template,
    this op strips it.  Adds ``affix_stripped`` (boolean); when the
    input carries an ``n_tok`` column it is recomputed for stripped
    rows.

    Scale shape: two passes over the fact.  Pass 1 derives the
    boilerplate set with the same partial-aggregated slice groupBy as
    the report (exchange = distinct-affixes-per-partition, ~4k-byte
    keys); the ≥min_docs survivors — a vanishing fraction of a web
    corpus — are then BROADCAST, so pass 2 is a map-side hash probe and
    the fact table itself never shuffles."""
    if side not in ("prefix", "suffix"):
        raise ValueError("side must be 'prefix' or 'suffix'")
    toks = F.col(tokens_col)
    sl = F.slice(toks, 1, k) if side == "prefix" else F.slice(toks, -k, k)
    boiler = (
        df.where(F.size(toks) >= k)
        .groupBy(sl.alias("__affix"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= min_docs)
        .select("__affix")
    )
    probed = df.withColumn(
        "__sl", F.when(F.size(toks) >= k, sl)
    ).join(
        F.broadcast(boiler), F.col("__sl") == F.col("__affix"), "left"
    )
    hit = F.col("__affix").isNotNull()
    stripped = (
        F.slice(toks, k + 1, F.size(toks) - k)
        if side == "prefix"
        else F.slice(toks, 1, F.size(toks) - k)
    )
    out = probed.withColumn(
        tokens_col, F.when(hit, stripped).otherwise(toks)
    ).withColumn("affix_stripped", hit).drop("__sl", "__affix")
    if "n_tok" in df.columns:
        out = out.withColumn(
            "n_tok",
            F.when(
                F.col("affix_stripped"), F.size(F.col(tokens_col))
            ).otherwise(F.col("n_tok")),
        )
    return out


_PRETOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def fertility_report(
    docs: DataFrame, *, text_col: str = "text", group_col: str = "lang"
) -> DataFrame:
    """Tokenizer fertility by group (typically language): tokens per
    whitespace word, bytes per token, chars per word — the metric that
    decides whether a tokenizer under- or over-segments a language
    (fertility ≫ 1 means the vocab serves that language poorly).

    Tokens here are the GPT-2-ish PRETOKENIZATION units (alnum runs +
    each standalone symbol, ``[A-Za-z0-9]+|[^A-Za-z0-9\\s]`` — RE2-safe,
    no lookbehind, so any engine reproduces it); with a learned merge
    table, substitute ``size(bpe_encode_ids(...))`` for ``n_tokens`` —
    the aggregation shape is identical. Counting happens inside codegen
    (``regexp_count``), the only exchange is |groups| scalar partials.
    """
    t = F.col(text_col)
    base = docs.select(
        F.col(group_col),
        F.regexp_count(t, F.lit(r"\S+")).cast("long").alias("__nw"),
        F.regexp_count(t, F.lit(_PRETOKEN_RE)).cast("long").alias("__nt"),
        F.octet_length(t).cast("long").alias("__nb"),
        F.length(t).cast("long").alias("__nc"),
    )
    return base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nw").alias("n_words"),
        F.sum("__nt").alias("n_tokens"),
        F.round(
            F.sum("__nt").cast("double") / F.greatest(F.sum("__nw"), F.lit(1)), 6
        ).alias("tokens_per_word"),
        F.round(
            F.sum("__nb").cast("double") / F.greatest(F.sum("__nt"), F.lit(1)), 6
        ).alias("bytes_per_token"),
        F.round(
            F.sum("__nc").cast("double") / F.greatest(F.sum("__nw"), F.lit(1)), 6
        ).alias("chars_per_word"),
    )
