"""Unigram language-model scoring over pre-tokenized training sequences.

The cheapest model-based quality signal a corpus owner runs before the
expensive ones (KenLM, a learned classifier): train a smoothed unigram LM
on the corpus itself and score every sequence's mean token log-probability
/ perplexity.  Sequences whose perplexity is far above the corpus norm are
gibberish/binary-noise candidates; far below are degenerate repetition —
the two tails every published pipeline (CCNet, Gopher, RefinedWeb) trims.

Reference parity: the reference validates rows against a declared model
(`/root/reference/vldt/models.py`); this is the statistical analogue — the
"model" is learned from the corpus and every row is scored against it.

Scale design (10^12 sequences, |vocab| ~ 10^5):
- TRAIN is `token_histogram`: a native explode → groupBy(token) count
  whose partial aggregate runs map-side, so no Python worker starts and
  token arrays never ride a shuffle; the exchange carries at most
  |distinct tokens| + 1 rows per partition and the final aggregate is
  |vocab|-sized.  A Python stage ships its whole input across the
  Arrow boundary, and each Python worker's first task pays a fixed
  start-up cost (DEVELOPING.md), so the only Python stage left in
  scoring is SCORE.
- The |vocab|+1-row histogram is collected once on the driver as Arrow
  (`DataFrame.toArrow`, no `Row` objects) and scattered into the dense
  count vector with one NumPy index assignment; its token = -1 row is
  the OOV count, so no caller rescans for it.  The smoothed log-prob
  table is |vocab| float64s (~1 MB at 10^5) — the same bounded-collect
  family as the Bloom bitmap partials in checks/referential.py — shipped
  to executors as a closure broadcast inside ONE `mapInArrow` scoring
  pass.  SCORE is therefore a pure scan: zero exchanges, zero joins.
- The scoring kernel (`_flat_mean_logp`) is shared with the streaming
  scorer (`streaming/lm_stream.ppl_udf`): flatten the Arrow list column
  once, one vectorized gather of log-probs, and per-row means from one
  `np.add.reduceat` over the row segments.
- The naive alternative — explode(tokens) ⋈ logp_table → groupBy(doc) —
  ships n_rows × seq_len rows through TWO exchanges; at 10^12 × 1k tokens
  that is 10^15 shuffle rows.  It exists here only as the DuckDB oracle.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vldt_spark.frames import local_frame
from vldt_spark.functions.tokens import _arrow_flat_tokens, token_histogram

__all__ = [
    "unigram_lm_table",
    "unigram_logprob",
    "unigram_lm_vector",
    "lm_cross_entropy",
]


def _train_counts(
    df: DataFrame, vocab_size: int, tokens_col: str
) -> tuple[np.ndarray, int, int]:
    """Dense in-vocab count vector, total in-vocab token count N, and the
    OOV count.

    Bounded driver collect of |vocab|+1 rows, read as Arrow and scattered
    with one index assignment.  token_histogram folds OOV ids and NULL
    elements under token = -1; those are excluded from N — the model is
    defined over [0, vocab) and OOV tokens score at the unseen floor —
    and returned as the third value.
    """
    hist = token_histogram(df, vocab_size, tokens_col=tokens_col).toArrow()
    token = hist.column("token").to_numpy()
    cnt = hist.column("cnt").to_numpy()
    in_vocab = token >= 0
    counts = np.zeros(vocab_size, dtype=np.int64)
    counts[token[in_vocab]] = cnt[in_vocab]
    return counts, int(counts.sum()), int(cnt[~in_vocab].sum())


def _add_one(counts: np.ndarray, total: int) -> tuple[np.ndarray, float]:
    """Add-one smoothing over [0, |counts|): the log-prob vector
    ln((cnt_t + 1) / (N + |vocab|)) and the unseen/OOV floor
    ln(1 / (N + |vocab|))."""
    denom = float(total + counts.size)
    return np.log((counts + 1.0) / denom), math.log(1.0 / denom)


def _flat_mean_logp(
    list_arr, logp: np.ndarray, floor: float
) -> tuple[np.ndarray, np.ndarray]:
    """Score one Arrow list<int> column under a unigram LM with no per-row
    Python: ``(lens int64, mean float64)``, where ``mean[i]`` is row i's
    mean token log-prob and NaN when the row is NULL or empty.  Ids
    outside [0, |logp|) and NULL elements score at ``floor``."""
    flat, lens = _arrow_flat_tokens(list_arr)
    vocab_size = logp.size
    nz = lens > 0
    mean = np.full(lens.size, np.nan)
    if flat.size:
        lens_nz = lens[nz]
        starts = np.zeros(lens_nz.size, dtype=np.int64)
        np.cumsum(lens_nz[:-1], out=starts[1:])
        in_range = (flat >= 0) & (flat < vocab_size)
        lp = np.where(in_range, logp[np.clip(flat, 0, vocab_size - 1)], floor)
        mean[nz] = np.add.reduceat(lp, starts) / lens_nz
    return lens, mean


def unigram_lm_table(
    df: DataFrame, vocab_size: int, *, tokens_col: str = "tokens"
) -> DataFrame:
    """Add-one-smoothed unigram LM as a (token, cnt, logp) DataFrame.

    logp(t) = ln((cnt_t + 1) / (N + |vocab|)) for every t in [0, vocab) —
    including never-seen ids, whose smoothed mass is the OOV/unseen floor.
    |vocab| rows total; downstream consumers broadcast it.
    """
    counts, total, _ = _train_counts(df, vocab_size, tokens_col)
    spark = df.sparkSession
    cols = {
        "token": np.arange(vocab_size, dtype=np.int64),
        "cnt": counts,
        "logp": _add_one(counts, total)[0],
    }
    return local_frame(spark, cols, "token long, cnt long, logp double")


def unigram_lm_vector(
    df: DataFrame, vocab_size: int, *, tokens_col: str = "tokens"
) -> tuple[list[float], float]:
    """The trained model as plain Python: (logp vector over [0, vocab),
    unseen/OOV floor) — the hand-off shape for the streaming scorer
    (`streaming/lm_stream.stream_ppl_windows`), which closes over it."""
    counts, total, _ = _train_counts(df, vocab_size, tokens_col)
    logp, floor = _add_one(counts, total)
    return logp.tolist(), floor


def unigram_logprob(
    df: DataFrame,
    vocab_size: int,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    round_to: int | None = 6,
) -> DataFrame:
    """Per-sequence mean token log-prob + perplexity under the corpus's own
    add-one-smoothed unigram LM.

    Returns (id_col, n_tok int, mean_logp double, ppl double); sequences
    with NULL/empty token arrays get n_tok = 0 and NULL scores (SQL AVG over
    an empty group).  OOV ids (outside [0, vocab)) and NULL elements score
    at the unseen floor ln(1 / (N + |vocab|)).

    Two passes over the fact table, zero exchanges of token arrays: the
    native |vocab|-bounded train aggregate, then one mapInArrow scoring
    scan with the log-prob vector closed over (see module docstring for
    why not a join).  The scoring kernel (`_flat_mean_logp`) has NO per-row Python: the
    Arrow list column is flattened zero-copy (`_arrow_flat_tokens`), the
    whole flat token relation is scored with one vectorized gather, and
    per-row means come from one `np.add.reduceat` over the row segments.
    """
    import pyarrow as pa

    counts, total, _ = _train_counts(df, vocab_size, tokens_col)
    logp, floor = _add_one(counts, total)
    q = None if round_to is None else 10.0**round_to

    def score(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            ids = batch.column(0)
            lens, mean = _flat_mean_logp(batch.column(1), logp, floor)
            # ppl is exp of the UNROUNDED mean, then rounded — the same
            # order of operations as the scalar path and the SQL oracle
            ppl = np.exp(-mean)
            if q is not None:
                mean = (
                    np.where(
                        mean >= 0,
                        np.floor(mean * q + 0.5),
                        -np.floor(-mean * q + 0.5),
                    )
                    / q
                )
                ppl = np.floor(ppl * q + 0.5) / q
            null_mask = lens == 0
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(lens.astype(np.int32), type=pa.int32()),
                    pa.array(mean, type=pa.float64(), mask=null_mask),
                    pa.array(ppl, type=pa.float64(), mask=null_mask),
                ],
                names=[id_col, "n_tok", "mean_logp", "ppl"],
            )

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, tokens_col).mapInArrow(
        score, schema=f"{id_col} {id_type}, n_tok int, mean_logp double, ppl double"
    )


def lm_cross_entropy(
    ref: DataFrame,
    cur: DataFrame,
    vocab_size: int,
    *,
    tokens_col: str = "tokens",
    round_to: int | None = 6,
) -> DataFrame:
    """Token-level corpus drift through the LM lens: how surprised is the
    REFERENCE corpus's unigram model by the CURRENT corpus?

    One row: (n_tokens, cross_entropy, ppl, self_entropy, kl) in nats —
    cross_entropy = -E_cur[logp_ref(t)], self_entropy the same under
    cur's own model, and kl = cross - self — the drift number (≈0 for
    identical unigram distributions; because the two SMOOTHED models use
    different denominators it can dip epsilon-negative, unlike true KL
    against the empirical distribution).  Complements the
    histogram-divergence family
    (checks/drift.py): same mathematics, but over the TOKEN distribution
    of the input_hint shape rather than a binned numeric column.

    Scale shape — the part worth noticing: NO scoring scan exists.
    Cross-entropy under a unigram model depends on the current corpus
    only through its token HISTOGRAM (H = -Σ_t p_cur(t)·logp_ref(t)), so
    the whole op is the two |vocab|-bounded histogram aggregates (one
    scan of each corpus; cur's OOV count comes from its histogram's token = -1
    row) plus |vocab| driver-side multiply-adds.  Tokens outside
    [0, vocab) contribute at the respective model's unseen floor.
    """
    c_ref, n_ref, _ = _train_counts(ref, vocab_size, tokens_col)
    # OOV mass of cur (the histogram's token = -1 row): those tokens are
    # real observations of cur, scored at each model's floor
    c_cur, n_cur, n_oov = _train_counts(cur, vocab_size, tokens_col)

    logp_ref, floor_ref = _add_one(c_ref, n_ref)
    logp_cur, floor_cur = _add_one(c_cur, n_cur)

    n_total = n_cur + n_oov
    spark = cur.sparkSession
    if n_total == 0:
        return local_frame(
            spark,
            [(0, None, None, None, None)],
            "n_tokens long, cross_entropy double, ppl double,"
            " self_entropy double, kl double",
        )
    cross = -(float(np.dot(c_cur, logp_ref)) + n_oov * floor_ref) / n_total
    self_e = -(float(np.dot(c_cur, logp_cur)) + n_oov * floor_cur) / n_total
    ppl = math.exp(cross)
    kl = cross - self_e
    if round_to is not None:
        q = 10.0**round_to

        def r(x: float) -> float:
            return (
                math.floor(x * q + 0.5) / q
                if x >= 0
                else -math.floor(-x * q + 0.5) / q
            )

        cross, ppl, self_e, kl = r(cross), r(ppl), r(self_e), r(kl)
    return local_frame(
        spark,
        [(n_total, cross, ppl, self_e, kl)],
        "n_tokens long, cross_entropy double, ppl double,"
        " self_entropy double, kl double",
    )


def ppl_band_filter(
    df: DataFrame,
    vocab_size: int,
    *,
    lo: float = 0.1,
    hi: float = 0.9,
    by: str | None = "source",
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    exact: bool = True,
) -> DataFrame:
    """Perplexity-percentile data pruning: keep the sequences whose
    unigram perplexity falls inside the per-``by``-group percentile band
    ``[lo, hi]`` — the standard "drop both tails" curation move (the low
    tail is boilerplate/templates the model memorises for free, the high
    tail is noise/garbled text; see e.g. the CCNet and DCLM perplexity
    buckets).  Sequences with empty/NULL token arrays carry no score and
    are always dropped.

    Returns the surviving rows of ``df`` plus (n_tok, ppl, pct_rank).

    Two physical strategies, same semantics knob:

    - ``exact=True`` (oracle baseline): percent_rank() over
      (partition by ``by`` order by ppl, id) — ties broken by id so the
      rank, and therefore the kept set, is deterministic and
      SQL-replicable.  Cost = one shuffle by group + per-group sort;
      fine up to groups that fit a task's spill budget.
    - ``exact=False`` (100 TB path): per-group approx thresholds from
      ``percentile_approx(ppl, [lo, hi])`` broadcast back — one
      |groups|-sized partial aggregate and a map-side band test; no sort,
      no per-group shuffle of the fact table.  Keeps epsilon-different
      edge rows vs the exact path (documented, not hidden).

    The scoring pass itself is ``unigram_logprob``, which exchanges no
    token array.  The join back onto ``df`` exchanges none only while
    the scored side is under the broadcast threshold: then, with
    ``exact=False``, the thresholds and the filter both read the scored
    relation, and the final adaptive plan runs its scoring
    ``MapInArrow`` once (the second read is a ``ReusedExchange`` of the
    first one's broadcast).  Above it the join plans as a
    ``SortMergeJoin`` that shuffles ``df``, token arrays included: on
    the 200k-row bench table, 202 MB of shuffle writes.
    """
    from pyspark.sql import Window

    keep_cols = [c for c in df.columns]
    # a token table may already carry n_tok (the input_hint shape); the
    # scored count is aliased so the join never creates an ambiguous ref,
    # and the output keeps exactly one n_tok column either way
    scored = unigram_logprob(
        df, vocab_size, id_col=id_col, tokens_col=tokens_col
    ).select(id_col, F.col("n_tok").alias("__score_ntok"), "ppl")
    base = df.join(scored, id_col).where(F.col("ppl").isNotNull())
    ntok_cols = (
        [] if "n_tok" in df.columns else [F.col("__score_ntok").alias("n_tok")]
    )
    if exact:
        part = [by] if by else []
        w = Window.partitionBy(*part).orderBy(F.col("ppl"), F.col(id_col))
        ranked = base.withColumn(
            "pct_rank", F.round(F.percent_rank().over(w), 6)
        )
        return ranked.where(
            (F.col("pct_rank") >= lo) & (F.col("pct_rank") <= hi)
        ).select(*keep_cols, *ntok_cols, "ppl", "pct_rank")
    grp = base.groupBy(*( [by] if by else [] )).agg(
        F.percentile_approx("ppl", [lo, hi], 10000).alias("__thr")
    )
    joined = (
        base.join(F.broadcast(grp), on=by)
        if by
        else base.crossJoin(F.broadcast(grp))
    )
    return joined.where(
        (F.col("ppl") >= F.col("__thr")[0]) & (F.col("ppl") <= F.col("__thr")[1])
    ).select(
        *keep_cols, *ntok_cols, "ppl",
        F.lit(None).cast("double").alias("pct_rank"),
    )
