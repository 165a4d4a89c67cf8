"""Declarative check-suite runner — the data-contract entry point.

A ``Suite`` is an ordered list of expectations over one table; ``run``
produces a single report DataFrame (check, column, metric, threshold,
passed). This is the whole-table analogue of declaring a reference model
with constraints and asking "does the table conform?" — and the shape
every orchestration layer (Airflow sensor, CI gate, publish guard) wants.

Every expectation kind is defined once, in ``_KINDS``: either the
aggregate columns it reads off the table, or the report frame it runs,
then its metric, threshold and comparison. The execution plan follows:

  * every ROW-LOCAL expectation (not_null / null_rate / range / regex /
    isin / element and size bounds) and every plain aggregate (row
    count, quantile, HLL distinct counts, pass fractions, PII and
    degenerate shares, fertility) share ONE ``df.agg`` — a single scan
    with map-side combine.  The row-local tier is one ``cells.Cells``
    spec, which ``run_stream`` sums per window with ``cells.windowed``;
    the range, regex, isin and size predicates are the ones the fused
    validation pass uses (``coercion``), and the PII, C4 and degenerate
    guards sum their families' cells;
  * exact distinct counts, and the grouped, joined and ``mapInArrow``
    checks (uniqueness as one map-side-combined aggregate, referential
    integrity as distinct-FK anti-join, drift histograms, dedup,
    classifier evals, ...) run as their own jobs from a thread pool,
    overlapping the fused scan;
  * the report is one driver-built frame, row-local rows first.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vldt_spark.checks.classifier_eval import auc_report, brier_report, ece_report, pr_report
from vldt_spark.checks.drift import (
    embedding_drift,
    histogram,
    js_divergence,
    ks_from_histograms,
    psi,
    wasserstein_from_histograms,
)
from vldt_spark.checks.layout import partition_health_summary
from vldt_spark.checks.referential import ri_report
from vldt_spark.checks.schema_drift import schema_diff
from vldt_spark.checks.snapshot import snapshot_summary
from vldt_spark.checks.uniqueness import duplicate_keys
from vldt_spark.cells import Cells, windowed
from vldt_spark.coercion import (
    elements_outside,
    field_constraints,
    not_in,
    outside_range,
    pattern_mismatch,
    size_outside,
)
from vldt_spark.frames import local_frame
from vldt_spark.functions.dedup import (
    contamination_report,
    duplicated_ngram_fraction,
    token_sequence_key,
)
from vldt_spark.functions.lm import unigram_logprob
from vldt_spark.functions.sampling import split_leakage_report
from vldt_spark.functions.text import c4_cells, fingerprint, gopher_rules, pii_cells
from vldt_spark.functions.tokens import _PRETOKEN_RE, degenerate_cells
from vldt_spark.plans.skew import key_skew_report
from vldt_spark.rounding import round6


@dataclass(frozen=True)
class Expectation:
    kind: str
    column: str
    params: dict = field(default_factory=dict)


class expect:
    """Factory namespace for expectations (Great-Expectations-style
    surface re-expressed as Catalyst aggregates)."""

    @staticmethod
    def not_null(column: str, *, max_nulls: int = 0) -> Expectation:
        return Expectation("not_null", column, {"max_nulls": max_nulls})

    @staticmethod
    def null_rate_below(column: str, rate: float) -> Expectation:
        return Expectation("null_rate_below", column, {"rate": rate})

    @staticmethod
    def range(
        column: str,
        *,
        lo: Any = None,
        hi: Any = None,
        lo_strict: bool = False,
        hi_strict: bool = False,
        max_violations: int = 0,
    ) -> Expectation:
        """Violations: value < lo (or <= lo when lo_strict — i.e. the
        declared constraint is value > lo), symmetrically for hi."""
        return Expectation(
            "range",
            column,
            {
                "lo": lo,
                "hi": hi,
                "lo_strict": lo_strict,
                "hi_strict": hi_strict,
                "max_violations": max_violations,
            },
        )

    @staticmethod
    def regex(column: str, pattern: str, *, max_violations: int = 0) -> Expectation:
        return Expectation(
            "regex", column, {"pattern": pattern, "max_violations": max_violations}
        )

    @staticmethod
    def isin(column: str, values: list, *, max_violations: int = 0) -> Expectation:
        return Expectation(
            "isin", column, {"values": list(values), "max_violations": max_violations}
        )

    @staticmethod
    def element_range(
        column: str, *, lo: Any = None, hi: Any = None, max_violations: int = 0
    ) -> Expectation:
        """Array-column element bounds — e.g. every token id inside the
        vocabulary (the north-star token table's core invariant). A row
        violates when ANY element is out of range: the fused pass's own
        verdict, ``coercion.elements_outside`` (row-local — fuses into the
        single aggregate pass and streams)."""
        return Expectation(
            "element_range",
            column,
            {"lo": lo, "hi": hi, "max_violations": max_violations},
        )

    @staticmethod
    def length_between(
        column: str, *, lo: int | None = None, hi: int | None = None,
        max_violations: int = 0,
    ) -> Expectation:
        """String length bounds (Field(min_size/max_size) on str)."""
        return Expectation(
            "length_between", column,
            {"lo": lo, "hi": hi, "max_violations": max_violations},
        )

    @staticmethod
    def size_between(
        column: str, *, lo: int | None = None, hi: int | None = None,
        max_violations: int = 0,
    ) -> Expectation:
        """Array/map cardinality bounds (Field(min_size/max_size) on
        containers)."""
        return Expectation(
            "size_between", column,
            {"lo": lo, "hi": hi, "max_violations": max_violations},
        )

    @staticmethod
    def unique(column, *, max_dup_rows: int = 0) -> Expectation:
        cols = [column] if isinstance(column, str) else list(column)
        return Expectation("unique", ",".join(cols), {"columns": cols, "max_dup_rows": max_dup_rows})

    @staticmethod
    def ref(
        column: str, dim: DataFrame, dim_key: str, *, max_violations: int = 0
    ) -> Expectation:
        return Expectation(
            "ref", column, {"dim": dim, "dim_key": dim_key, "max_violations": max_violations}
        )

    @staticmethod
    def row_count_between(
        lo: int = 0, hi: int | None = None
    ) -> Expectation:
        """Table-level volume guard (an empty or truncated input is the
        most common upstream failure). metric = row count."""
        return Expectation("row_count_between", "*", {"lo": lo, "hi": hi})

    @staticmethod
    def distinct_count_between(
        column: str, lo: int = 0, hi: int | None = None, *, approx: bool = True
    ) -> Expectation:
        """Cardinality guard. ``approx`` uses the HyperLogLog++ sketch
        (the only option at 10^12 rows); ``approx=False`` is exact for
        small tables / oracle checks."""
        return Expectation(
            "distinct_count_between", column, {"lo": lo, "hi": hi, "approx": approx}
        )

    @staticmethod
    def quantile_between(
        column: str,
        prob: float,
        lo: float | None = None,
        hi: float | None = None,
        *,
        exact: bool = False,
        accuracy: int = 10000,
    ) -> Expectation:
        """Distributional position guard (e.g. median inside a band).
        Default is the mergeable percentile_approx sketch; ``exact=True``
        buffers values (small tables / oracle checks only)."""
        return Expectation(
            "quantile_between",
            column,
            {"prob": prob, "lo": lo, "hi": hi, "exact": exact, "accuracy": accuracy},
        )

    @staticmethod
    def psi_below(
        column: str,
        ref_df: DataFrame,
        threshold: float,
        *,
        bins: int = 20,
        lo: float | None = None,
        hi: float | None = None,
    ) -> Expectation:
        return Expectation(
            "psi_below",
            column,
            {"ref": ref_df, "threshold": threshold, "bins": bins, "lo": lo, "hi": hi},
        )

    @staticmethod
    def ks_below(
        column: str,
        ref_df: DataFrame,
        threshold: float,
        *,
        bins: int = 20,
        lo: float | None = None,
        hi: float | None = None,
    ) -> Expectation:
        """Binned KS drift guard vs a reference frame — same bounded
        histogram budget as psi_below, max |ΔCDF| metric (more sensitive
        to localized shifts than PSI's sum)."""
        return Expectation(
            "ks_below",
            column,
            {"ref": ref_df, "threshold": threshold, "bins": bins, "lo": lo, "hi": hi},
        )

    @staticmethod
    def js_below(
        column: str,
        ref_df: DataFrame,
        threshold: float,
        *,
        bins: int = 20,
        lo: float | None = None,
        hi: float | None = None,
    ) -> Expectation:
        """Jensen-Shannon drift guard — symmetric and bounded [0, ln 2],
        so the same threshold is meaningful across columns (unlike KL,
        which is unbounded, or PSI, whose scale depends on eps)."""
        return Expectation(
            "js_below",
            column,
            {"ref": ref_df, "threshold": threshold, "bins": bins, "lo": lo, "hi": hi},
        )

    @staticmethod
    def wasserstein_below(
        column: str,
        ref_df: DataFrame,
        threshold: float,
        *,
        bins: int = 20,
        lo: float | None = None,
        hi: float | None = None,
    ) -> Expectation:
        """Binned 1-Wasserstein drift guard — threshold is in the COLUMN'S
        OWN UNITS ("alert if the token-length distribution moved more than
        15 tokens"), the most interpretable of the drift guards."""
        return Expectation(
            "wasserstein_below",
            column,
            {"ref": ref_df, "threshold": threshold, "bins": bins, "lo": lo, "hi": hi},
        )

    @staticmethod
    def schema_stable(previous_df: DataFrame, *, allow_added: bool = False) -> Expectation:
        """Schema-evolution guard: fails when the table's schema changed
        vs a previous snapshot (dropped/retyped/nullability always count;
        ``allow_added=True`` tolerates new columns — the backward-
        compatible evolution). Metric = number of offending changes.
        METADATA-ONLY: no job runs against either table."""
        return Expectation(
            "schema_stable", "*", {"previous": previous_df, "allow_added": allow_added}
        )

    @staticmethod
    def heavy_hitter_share_below(column: str, share: float) -> Expectation:
        """Degenerate-skew guard: the single most frequent value of
        ``column`` must hold LESS THAN ``share`` of all non-null rows —
        catches one domain/source flooding a corpus, a constant column
        masquerading as data, or a hot key that will skew every downstream
        join. One bounded aggregate (count per value, max over counts)."""
        return Expectation("heavy_hitter_share_below", column, {"share": share})

    @staticmethod
    def mean_ppl_between(
        tokens_col: str, lo: float, hi: float, *, vocab_size: int
    ) -> Expectation:
        """Model-based corpus-health guard: the mean unigram-LM perplexity
        over all scoreable sequences (the corpus scored against its OWN
        add-one-smoothed unigram model, `functions/lm.unigram_logprob`)
        must lie in [lo, hi].  A corpus drifting ABOVE its usual band is
        filling with gibberish/binary noise; BELOW means degenerate
        repetition is taking over — the two tails every published pipeline
        (CCNet, Gopher, RefinedWeb) trims.  Costs the LM train fold plus
        one scoring scan; token arrays never shuffle."""
        return Expectation(
            "mean_ppl_between",
            tokens_col,
            {"lo": lo, "hi": hi, "vocab_size": vocab_size},
        )

    @staticmethod
    def skew_factor_below(column: str, factor: float) -> Expectation:
        """Reducer-skew guard for a prospective groupBy/join key: the
        hottest value of ``column`` must carry LESS THAN ``factor`` × the
        average per-key row count (the `key_skew_report` skew_factor) —
        the declarative form of "will one reducer drown when we shuffle
        on this key".  Complements heavy_hitter_share_below: share is
        absolute corpus fraction, this is relative to key cardinality, so
        it still fires on a million-key column whose hot key is only 1%
        of rows but 10,000× the average reducer load.  Same bounded
        per-key aggregate as `key_skew_report` (plans/skew.py)."""
        return Expectation("skew_factor_below", column, {"factor": factor})

    @staticmethod
    def partition_skew_below(
        part_cols: str | list[str], factor: float
    ) -> Expectation:
        """Layout guard on a (possibly multi-column) logical partition
        key: the hottest partition must carry LESS THAN ``factor`` × the
        mean partition row count (`partition_health_summary`'s
        max_skew_factor, checks/layout.py) — the declarative form of
        "can a 1000-executor job read this table without one partition
        serializing it".  One map-side-combined aggregate."""
        cols = [part_cols] if isinstance(part_cols, str) else list(part_cols)
        return Expectation(
            "partition_skew_below", ",".join(cols),
            {"columns": cols, "factor": factor},
        )

    @staticmethod
    def dup_ngram_fraction_below(
        text_col: str,
        threshold: float,
        *,
        id_col: str = "doc_id",
        shingle_k: int = 3,
    ) -> Expectation:
        """Corpus-duplication guard (Lee et al. 2022 train-train
        overlap): the corpus-wide duplicated-shingle fraction —
        sum(n_duplicated) / sum(n_shingles) over
        ``duplicated_ngram_fraction`` — must stay BELOW the threshold.
        The declarative form of the dup-n-gram health check: one
        shingle-keyed aggregate plus a semi-join against the
        duplicated-only set, reduced to a single scalar."""
        return Expectation(
            "dup_ngram_fraction_below",
            text_col,
            {"threshold": threshold, "id_col": id_col, "shingle_k": shingle_k},
        )

    @staticmethod
    def contamination_below(
        text_col: str,
        benchmark: DataFrame,
        threshold: float,
        *,
        id_col: str = "doc_id",
        shingle_k: int = 13,
        bench_text_col: str | None = None,
        shingle_impl: str = "expr",
    ) -> Expectation:
        """Eval-contamination guard (GPT-3 13-gram screen): the fraction
        of corpus documents sharing ANY word ``shingle_k``-gram with the
        benchmark set must stay BELOW the threshold. Benchmark shingles
        broadcast; the corpus is scanned once (``contamination_report``)."""
        return Expectation(
            "contamination_below",
            text_col,
            {
                "threshold": threshold,
                "benchmark": benchmark,
                "id_col": id_col,
                "shingle_k": shingle_k,
                "bench_text_col": bench_text_col,
                "shingle_impl": shingle_impl,
            },
        )

    @staticmethod
    def degenerate_sequence_share_below(
        tokens_col: str,
        share: float,
        *,
        max_run: int = 100,
        min_entropy: float | None = None,
    ) -> Expectation:
        """Degenerate-sequence guard over the input_hint token shape:
        the fraction of sequences that are degenerate — empty/NULL, a
        single token repeated ≥ ``max_run`` times consecutively, or
        (when ``min_entropy`` is set) unigram entropy below it — must
        stay BELOW ``share``.  Catches decoder collapse, boilerplate
        loops, and gibberish before they reach training.  Sums
        ``functions.tokens.degenerate_cells`` in the fused aggregate
        pass: the flag is an Arrow UDF over `sequence_stats`' batch
        kernel, with zero exchanges of the table.  The same cells drive
        ``streaming.seq_stream.stream_degenerate_share``."""
        return Expectation(
            "degenerate_sequence_share_below",
            tokens_col,
            {"share": share, "max_run": max_run, "min_entropy": min_entropy},
        )

    @staticmethod
    def gopher_pass_frac_above(
        text_col: str, threshold: float, **rule_thresholds
    ) -> Expectation:
        """Corpus-quality guard on the Gopher rule bundle: the fraction
        of documents passing ALL rules (``gopher_report.pass_frac``)
        must stay ABOVE the threshold. Keyword args tune individual rule
        thresholds (``min_words=20`` etc., see
        ``functions.text.gopher_rules``). One codegen projection + one
        scalar aggregate — the corpus never shuffles."""
        return Expectation(
            "gopher_pass_frac_above",
            text_col,
            {"threshold": threshold, "rules": dict(rule_thresholds)},
        )

    @staticmethod
    def c4_pass_frac_above(
        text_col: str, threshold: float, **rule_thresholds
    ) -> Expectation:
        """Corpus-quality guard on the C4 cleaning bundle (Raffel et al.
        2020 §2.2): the fraction of documents passing the document rules
        (no lorem ipsum, no curly brace, ≥3 surviving sentences, ≥1 kept
        line — ``c4_report.pass_frac``) must stay ABOVE the threshold.
        Keyword args tune ``min_words`` / ``min_sentences`` (see
        ``functions.text.c4_rules``).  Sums ``functions.text.c4_cells``,
        so documents with NULL text count in neither the numerator nor
        the denominator.  One codegen projection + one scalar aggregate —
        the corpus never shuffles."""
        return Expectation(
            "c4_pass_frac_above",
            text_col,
            {"threshold": threshold, "rules": dict(rule_thresholds)},
        )

    @staticmethod
    def fertility_between(text_col: str, lo: float, hi: float) -> Expectation:
        """Tokenizer-fertility guard: corpus-wide pretokenization units
        per whitespace word (``functions.tokens.fertility_report``'s
        tokens_per_word, computed over the whole table) must stay in
        [lo, hi]. Fertility drifting up means the corpus mix shifted
        toward content the tokenizer segments poorly. Codegen
        ``regexp_count`` + one scalar aggregate."""
        return Expectation(
            "fertility_between", text_col, {"lo": lo, "hi": hi}
        )

    @staticmethod
    def snapshot_churn_below(
        previous_df: DataFrame,
        threshold: float,
        *,
        id_col: str = "doc_id",
        compare_cols: list[str] | None = None,
    ) -> Expectation:
        """Data-version churn guard: the fraction of diff rows that are
        NOT unchanged between ``previous_df`` and the table under test —
        (added + removed + changed) / all ids in either version — must
        stay BELOW the threshold. The row-level companion of
        ``schema_stable``: a pipeline change that silently rewrites or
        drops a chunk of the corpus trips this before training does.
        Cost = `snapshot_diff`'s one id-keyed full-outer join reduced to
        two scalars (see checks/snapshot.py for the zero-exchange
        bucketed-storage path)."""
        return Expectation(
            "snapshot_churn_below",
            id_col,
            {
                "previous": previous_df,
                "threshold": threshold,
                "compare_cols": compare_cols,
            },
        )

    @staticmethod
    def split_leakage_below(
        pairs: DataFrame,
        threshold: float,
        *,
        weights: dict[str, float] | None = None,
        use_table_splits: bool = False,
        id_cols: tuple[str, str] = ("id_a", "id_b"),
        id_col: str = "doc_id",
        split_col: str = "split",
        seed: int = 0,
        hash_fn: str = "xxhash64",
    ) -> Expectation:
        """Train/eval leakage guard: the fraction of near-dup ``pairs``
        that straddle two splits must stay BELOW the threshold (0 pairs
        straddling = clean; set threshold near 0 after a
        ``split_assign_clustered`` build, where leakage is structurally
        zero). Pass ``weights=`` when splits follow the ``split_assign``
        law (recomputed row-locally, zero joins), or
        ``use_table_splits=True`` to read (id_col, split_col) from the
        table under test itself. A corpus with NO pairs scores 0.0 and
        passes — unlike the empty-population guards, an empty pair set
        is a meaningful clean state (no near-duplicates exist to leak),
        not an undefined metric."""
        if (weights is None) == (not use_table_splits):
            raise ValueError(
                "split_leakage_below: pass exactly one of weights= or use_table_splits=True"
            )
        return Expectation(
            "split_leakage_below",
            id_col,
            {
                "pairs": pairs,
                "threshold": threshold,
                "weights": weights,
                "use_table_splits": use_table_splits,
                "id_cols": id_cols,
                "split_col": split_col,
                "seed": seed,
                "hash_fn": hash_fn,
            },
        )

    @staticmethod
    def mixture_gap_below(
        group_col: str,
        token_col: str,
        target_shares: dict[str, float],
        threshold: float,
    ) -> Expectation:
        """Mixture-fidelity guard: the worst per-source deviation between
        the corpus's achieved token share and its normalized target —
        ``max_s |achieved_s − w_s|`` over the named sources — must stay
        BELOW the threshold. The acceptance check for a corpus built by
        ``mixture_epochs`` / ``temperature_sample``: a drifting ingest or
        a mis-applied epoch table shows up here as one scalar. Shares are
        computed over the named sources' token mass (the same frame
        ``mixture_epochs_report`` uses). One |sources|-row aggregate —
        the corpus never shuffles."""
        if not target_shares:
            raise ValueError("mixture_gap_below: target_shares must name at least one source")
        if sum(target_shares.values()) <= 0:
            raise ValueError("mixture_gap_below: shares must have a positive sum")
        return Expectation(
            "mixture_gap_below",
            group_col,
            {
                "token_col": token_col,
                "shares": dict(target_shares),
                "threshold": threshold,
            },
        )

    @staticmethod
    def auc_above(
        score_col: str,
        label_col: str,
        threshold: float,
        *,
        quantize: int | None = None,
    ) -> Expectation:
        """Filter-model ranking guard: the exact tie-aware ROC AUC of
        ``score_col`` against boolean/0-1 ``label_col`` must stay ABOVE
        the threshold — the acceptance check for a model-based quality
        filter (a classifier whose AUC on a labeled audit slice sags is
        silently letting junk through). Runs as ``auc_report``
        (checks/classifier_eval.py): one score-keyed hash aggregate plus
        a running sum over the |distinct scores|-bounded relation — the
        fact table never globally sorts. ``quantize`` bounds the grouped
        relation for continuous scores. Single-class slices fail
        (metric NaN): an audit set with no negatives certifies nothing."""
        return Expectation(
            "auc_above",
            score_col,
            {"label_col": label_col, "threshold": threshold, "quantize": quantize},
        )

    @staticmethod
    def ece_below(
        score_col: str,
        label_col: str,
        threshold: float,
        *,
        n_bins: int = 10,
    ) -> Expectation:
        """Filter-model calibration guard: the expected calibration error
        of probability-shaped ``score_col`` against ``label_col`` must
        stay BELOW the threshold — AUC's complement (ranking can be
        perfect while the probabilities a downstream threshold consumes
        are meaningless). Runs as ``ece_report``: one ≤ n_bins-partial
        hash aggregate with integer micro-score sums, bit-deterministic
        at any partitioning."""
        return Expectation(
            "ece_below",
            score_col,
            {"label_col": label_col, "threshold": threshold, "n_bins": n_bins},
        )

    @staticmethod
    def brier_below(
        score_col: str,
        label_col: str,
        threshold: float,
    ) -> Expectation:
        """Filter-model proper-scoring guard: the Brier score (mean
        squared error of the probability forecast) of ``score_col``
        against ``label_col`` must stay BELOW the threshold. The unbinned
        complement of ece_below — a model can game coarse bins but not a
        proper scoring rule. Runs as ``brier_report``: one scan, integer
        (m − y·1e6)² numerators summed as decimal(38,0). Empty audit
        slice fails (metric NaN)."""
        return Expectation(
            "brier_below",
            score_col,
            {"label_col": label_col, "threshold": threshold},
        )

    @staticmethod
    def average_precision_above(
        score_col: str,
        label_col: str,
        threshold: float,
        *,
        quantize: int | None = None,
    ) -> Expectation:
        """Filter-model imbalance-aware ranking guard: the average
        precision (step-interpolated PR-AUC) of ``score_col`` against
        ``label_col`` must stay ABOVE the threshold. The companion to
        auc_above for the quality-filter regime — junk is a small
        minority, and ROC AUC barely moves when the TOP of the ranking
        is polluted while AP collapses. Runs as ``pr_report``
        (checks/classifier_eval.py): one score-keyed hash aggregate plus
        running sums over the |distinct scores|-bounded relation; the
        fact table never globally sorts. Single-class / empty audit
        slices fail (metric NaN)."""
        return Expectation(
            "average_precision_above",
            score_col,
            {"label_col": label_col, "threshold": threshold, "quantize": quantize},
        )

    @staticmethod
    def pii_frac_below(text_col: str, threshold: float) -> Expectation:
        """Corpus-safety guard: the fraction of documents matching ANY
        `pii_flags` screen pattern (email / IP / phone) must stay BELOW
        the threshold — the declarative acceptance check run before a
        corpus ships, and the gate that decides whether a `pii_redact`
        pass is required at all. Sums ``functions.text.pii_cells``, so
        documents with NULL text count in neither the numerator nor the
        denominator: one conditional scalar aggregate over row-local
        regex screens (map-side combined, zero exchange of the fact
        table); empty corpus fails loud (NaN metric)."""
        return Expectation("pii_frac_below", text_col, {"threshold": threshold})

    @staticmethod
    def distinct_text_frac_above(
        text_col: str, threshold: float, *, approx: bool = False
    ) -> Expectation:
        """Exact-duplication health guard: distinct normalized-text
        fingerprints / total rows must stay ABOVE the threshold (1.0 =
        fully deduplicated corpus). The declarative arm of the
        `exact_duplicates` family and the `corpus_card`
        distinct_text_frac metric; ``approx=True`` swaps the exact
        count_distinct for HLL at 10^12 rows. Empty corpus fails loud
        (NaN metric)."""
        return Expectation(
            "distinct_text_frac_above",
            text_col,
            {"threshold": threshold, "approx": approx},
        )

    @staticmethod
    def distinct_seq_frac_above(
        tokens_col: str, threshold: float, *, approx: bool = False
    ) -> Expectation:
        """Token twin of ``distinct_text_frac_above``: distinct exact
        token SEQUENCES / total rows must stay ABOVE the threshold —
        the declarative arm of the ``token_exact_duplicates`` family.
        Keyed on the array-native 128-bit ``token_sequence_key`` (two
        salted xxhash64 passes, zero string rendering); the metric is a
        ratio of distinct counts, hash-agnostic at any collision-free
        scale, so the SQL oracle replays it off the raw sequences even
        though xxhash64 itself is not portable. ``approx=True`` swaps
        the exact count_distinct for HLL at 10^12 rows. Empty corpus
        fails loud (NaN metric)."""
        return Expectation(
            "distinct_seq_frac_above",
            tokens_col,
            {"threshold": threshold, "approx": approx},
        )

    @staticmethod
    def centroid_cosine_above(
        column: str, ref_df: DataFrame, threshold: float
    ) -> Expectation:
        """Embedding-space drift guard: cosine between the table's mean
        vector (``column`` is an array<float> embedding) and the
        reference frame's must stay ABOVE the threshold (1.0 = no
        movement). Runs as ``embedding_drift``'s dim-cardinality
        aggregates — no vector ever shuffles. Fails (metric NaN) on an
        empty table or a zero centroid, where cosine is undefined."""
        return Expectation(
            "centroid_cosine_above", column, {"ref": ref_df, "threshold": threshold}
        )


# -- the kind table ---------------------------------------------------------


@dataclass(frozen=True)
class _Kind:
    """One expectation kind, defined once.  Exactly one of ``bad``,
    ``aggs`` and ``read`` is set:

    * ``bad(col, params, dtype)`` — row-local violation predicate, summed
      in the fused pass; ``dtype`` is the column's Spark type (None for a
      nested path).  The report row is built Spark-side by ``_report_struct``
      (shared with ``run_stream``): metric = violation count against the
      ``limit`` param, or the violation rate when ``limit == "rate"``.
    * ``aggs(col, params)`` — aggregate columns over the table, whose
      values go to ``metric(params, *values)``.
    * ``read(df, expectation)`` — runs the kind's own report frame and
      returns the metric.

    A metric of None means the population is empty: the row reports NaN
    and fails.  ``check(params, metric)`` gives (threshold, passed)."""

    check: Callable | None = None
    bad: Callable | None = None
    limit: str = "max_violations"
    aggs: Callable | None = None
    metric: Callable | None = None
    read: Callable | None = None


def _below(key):
    return lambda p, m: (float(p[key]), m < float(p[key]))


def _above(key):
    return lambda p, m: (float(p[key]), m > float(p[key]))


def _at_most(key):
    return lambda p, m: (float(p[key]), m <= float(p[key]))


def _between(p, m):
    lo, hi = p["lo"], p["hi"]
    passed = (lo is None or m >= lo) and (hi is None or m <= hi)
    return float(hi if hi is not None else lo), passed


def _frac(num, den):
    return float(num) / float(den) if den else None


def _count(p, n):
    return float(n)


def _share(p, n, k):
    """k per n: the metric of every (population, count) aggregate pair."""
    return _frac(k, n)


def _gopher_aggs(c, p):
    """Row count and rows passing the Gopher rule bundle."""
    ok = F.when(gopher_rules(c, **p["rules"]).getField("passes"), F.lit(1)).otherwise(F.lit(0))
    return [F.count(F.lit(1)), F.sum(ok)]


def _fertility_aggs(c, p):
    return [
        F.sum(F.regexp_count(c, F.lit(r"\S+")).cast("long")),
        F.sum(F.regexp_count(c, F.lit(_PRETOKEN_RE)).cast("long")),
    ]


def _distinct_frac(key):
    """Row count and distinct ``key(col)`` values; ``approx`` swaps the
    exact count_distinct for the HLL sketch."""

    def aggs(c, p):
        cd = F.approx_count_distinct if p["approx"] else F.count_distinct
        return [F.count(F.lit(1)), cd(key(c))]

    return aggs


def _quantile_aggs(c, p):
    prob = F.lit(float(p["prob"]))
    if p["exact"]:
        return [F.percentile(c, prob)]
    return [F.percentile_approx(c, prob, p["accuracy"])]


def _first(frame: DataFrame, col: str):
    row = frame.first()
    return None if row is None or row[col] is None else float(row[col])


def _total(frame: DataFrame, col: str) -> float:
    return float(frame.agg(F.coalesce(F.sum(col), F.lit(0)).cast("double")).first()[0])


def _drift(divergence):
    """Histogram drift vs the reference frame; the bin range defaults to
    the reference column's [min, max].  A NULL/empty column on either side
    leaves no distribution (None)."""

    def read(df, e):
        p = e.params
        lo, hi = p["lo"], p["hi"]
        if lo is None or hi is None:
            row = p["ref"].agg(F.min(e.column), F.max(e.column)).first()
            lo = (float(row[0]) if row[0] is not None else None) if lo is None else lo
            hi = (float(row[1]) if row[1] is not None else None) if hi is None else hi
        if lo is None or hi is None:
            return None
        h_ref = histogram(p["ref"], e.column, bins=p["bins"], lo=lo, hi=hi)
        h_cur = histogram(df, e.column, bins=p["bins"], lo=lo, hi=hi)
        try:
            return divergence(h_ref, h_cur, (hi - lo) / p["bins"])
        except TypeError:  # the divergence aggregates came back NULL (0/0)
            return None

    return read


def _schema_changes(df, e):
    changes = schema_diff(e.params["previous"], df).collect()
    if e.params["allow_added"]:
        changes = [r for r in changes if r["change"] != "added"]
    return float(len(changes))


def _heavy_hitter(df, e):
    row = (
        df.where(F.col(e.column).isNotNull())
        .groupBy(e.column)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").cast("double").alias("top"), F.sum("n").cast("double").alias("total"))
        .first()
    )
    return _frac(row["top"], row["total"])


def _mean_ppl(df, e):
    row = (
        unigram_logprob(
            df.select(F.monotonically_increasing_id().alias("__sid"), e.column),
            e.params["vocab_size"],
            id_col="__sid",
            tokens_col=e.column,
        )
        .agg(
            # exact micro-ppl integer sum: float avg is partition-order
            # dependent and would wobble at rounding boundaries;
            # decimal(38,0) because 10^12 rows × ~10^7 micro-ppl overflows int64
            F.sum(F.round(F.col("ppl") * 1e6).cast("decimal(38,0)")).alias("s"),
            F.count("ppl").alias("n"),
        )
        .first()
    )
    return float(row["s"]) / (float(row["n"]) * 1e6) if row["n"] else None


def _key_skew(df, e):
    row = key_skew_report(df, e.column).first()
    if row is None or not row["n_rows"]:
        return None
    return float(row["hot_n"]) * float(row["n_keys"]) / float(row["n_rows"])


def _partition_skew(df, e):
    row = partition_health_summary(df, e.params["columns"]).first()
    return None if row is None or not row["n_partitions"] else float(row["max_skew_factor"])


def _dup_ngram(df, e):
    p = e.params
    row = (
        duplicated_ngram_fraction(
            df, text_col=e.column, id_col=p["id_col"], shingle_k=p["shingle_k"]
        )
        .agg(F.sum("n_duplicated").alias("d"), F.sum("n_shingles").alias("n"))
        .first()
    )
    return _frac(row["d"], row["n"])


def _contamination(df, e):
    p = e.params
    n_docs = df.count()
    if n_docs == 0:
        return None
    n_bad = contamination_report(
        df, p["benchmark"], id_col=p["id_col"], text_col=e.column,
        bench_text_col=p["bench_text_col"], shingle_k=p["shingle_k"],
        shingle_impl=p["shingle_impl"],
    ).count()
    return float(n_bad) / float(n_docs)


def _churn(df, e):
    rows = snapshot_summary(
        e.params["previous"], df, id_col=e.column, compare_cols=e.params["compare_cols"]
    ).collect()  # bounded: ≤ 4 status rows
    total = sum(r["n_rows"] for r in rows)
    unchanged = sum(r["n_rows"] for r in rows if r["status"] == "unchanged")
    return _frac(total - unchanged, total)


def _leakage(df, e):
    p = e.params
    rep = split_leakage_report(
        p["pairs"],
        splits=df.select(e.column, p["split_col"]) if p["use_table_splits"] else None,
        weights=p["weights"],
        id_cols=p["id_cols"],
        id_col=e.column,
        split_col=p["split_col"],
        seed=p["seed"],
        hash_fn=p["hash_fn"],
    ).collect()  # bounded: ≤ |splits|² matrix rows
    total = sum(r["n_pairs"] for r in rep)
    leaked = sum(r["n_pairs"] for r in rep if r["leaked"])
    # no pairs = nothing can leak: a clean 0.0, not NaN (see factory)
    return float(leaked) / float(total) if total else 0.0


def _mixture_gap(df, e):
    shares = e.params["shares"]
    tot_w = float(sum(shares.values()))
    tok = F.col(e.params["token_col"]).cast("double")
    rows = (
        df.where(F.col(e.column).isin(list(shares)) & tok.isNotNull() & (tok > 0))
        .groupBy(e.column)
        .agg(F.sum(tok).alias("t"))
        .collect()  # bounded: one row per NAMED source
    )
    total = sum(float(r["t"]) for r in rows)
    if not rows or total <= 0:
        return None
    got = {r[e.column]: float(r["t"]) / total for r in rows}
    return max(abs(got.get(k, 0.0) - w / tot_w) for k, w in shares.items())


def _classifier(report, col, *params):
    """Metric ``col`` of a checks/classifier_eval report; None on an empty
    or single-class audit slice, which certifies nothing."""

    def read(df, e):
        kw = {k: e.params[k] for k in params}
        return _first(report(df, e.column, e.params["label_col"], **kw), col)

    return read


def _centroid(df, e):
    return _first(embedding_drift(df, e.params["ref"], vec_col=e.column), "centroid_cosine")


def _sized(size):
    return lambda c, p, dt: size_outside(c, size, p["lo"], p["hi"])


_KINDS: dict[str, _Kind] = {
    # row-local: one violation predicate each, summed in the fused pass
    "not_null": _Kind(bad=lambda c, p, dt: c.isNull(), limit="max_nulls"),
    "null_rate_below": _Kind(bad=lambda c, p, dt: c.isNull(), limit="rate"),
    "range": _Kind(
        bad=lambda c, p, dt: outside_range(
            c, p["lo"], p["hi"], lo_strict=p.get("lo_strict"), hi_strict=p.get("hi_strict")
        )
    ),
    "regex": _Kind(bad=lambda c, p, dt: pattern_mismatch(c, p["pattern"])),
    "isin": _Kind(bad=lambda c, p, dt: not_in(c, p["values"])),
    "element_range": _Kind(
        bad=lambda c, p, dt: elements_outside(
            c, dt.elementType if isinstance(dt, T.ArrayType) else None, p["lo"], p["hi"]
        )
    ),
    "length_between": _Kind(bad=_sized(F.length)),
    "size_between": _Kind(bad=_sized(F.size)),
    # plain aggregates: join the fused pass unless DISTINCT
    "row_count_between": _Kind(_between, aggs=lambda c, p: [F.count(F.lit(1))], metric=_count),
    "distinct_count_between": _Kind(
        _between,
        aggs=lambda c, p: [F.approx_count_distinct(c) if p["approx"] else F.count_distinct(c)],
        metric=_count,
    ),
    "quantile_between": _Kind(
        _between, aggs=_quantile_aggs, metric=lambda p, q: None if q is None else float(q)
    ),
    "gopher_pass_frac_above": _Kind(_above("threshold"), aggs=_gopher_aggs, metric=_share),
    # the family cells their batch reports and streaming twins sum
    "c4_pass_frac_above": _Kind(
        _above("threshold"),
        aggs=lambda c, p: c4_cells(c, **p["rules"]).aggs("n_docs", "n_pass"),
        metric=_share,
    ),
    "pii_frac_below": _Kind(
        _below("threshold"), aggs=lambda c, p: pii_cells(c).aggs("n_docs", "n_any"), metric=_share
    ),
    "degenerate_sequence_share_below": _Kind(
        _below("share"),
        aggs=lambda c, p: degenerate_cells(
            c, max_run=p["max_run"], min_entropy=p["min_entropy"]
        ).aggs(),
        metric=_share,
    ),
    "fertility_between": _Kind(_between, aggs=_fertility_aggs, metric=_share),
    "distinct_text_frac_above": _Kind(
        _above("threshold"), aggs=_distinct_frac(fingerprint), metric=_share
    ),
    "distinct_seq_frac_above": _Kind(
        _above("threshold"), aggs=_distinct_frac(token_sequence_key), metric=_share
    ),
    # own report frames: grouped, joined and mapInArrow checks
    "unique": _Kind(
        _at_most("max_dup_rows"),
        read=lambda df, e: _total(duplicate_keys(df, e.params["columns"]), "n_dups"),
    ),
    "ref": _Kind(
        _at_most("max_violations"),
        read=lambda df, e: _total(
            ri_report(df, e.column, e.params["dim"], e.params["dim_key"]), "n_rows"
        ),
    ),
    "psi_below": _Kind(_below("threshold"), read=_drift(lambda r, c, bw: psi(r, c))),
    "ks_below": _Kind(
        _below("threshold"), read=_drift(lambda r, c, bw: _first(ks_from_histograms(r, c), "ks"))
    ),
    "js_below": _Kind(
        _below("threshold"), read=_drift(lambda r, c, bw: _first(js_divergence(r, c), "js"))
    ),
    "wasserstein_below": _Kind(
        _below("threshold"),
        read=_drift(lambda r, c, bw: _first(wasserstein_from_histograms(r, c, bin_width=bw), "w1")),
    ),
    "schema_stable": _Kind(lambda p, m: (0.0, m <= 0.0), read=_schema_changes),
    "heavy_hitter_share_below": _Kind(_below("share"), read=_heavy_hitter),
    "mean_ppl_between": _Kind(_between, read=_mean_ppl),
    "skew_factor_below": _Kind(_below("factor"), read=_key_skew),
    "partition_skew_below": _Kind(_below("factor"), read=_partition_skew),
    "dup_ngram_fraction_below": _Kind(_below("threshold"), read=_dup_ngram),
    "contamination_below": _Kind(_below("threshold"), read=_contamination),
    "snapshot_churn_below": _Kind(_below("threshold"), read=_churn),
    "split_leakage_below": _Kind(_below("threshold"), read=_leakage),
    "mixture_gap_below": _Kind(_below("threshold"), read=_mixture_gap),
    "auc_above": _Kind(_above("threshold"), read=_classifier(auc_report, "auc", "quantize")),
    "ece_below": _Kind(_below("threshold"), read=_classifier(ece_report, "ece", "n_bins")),
    "brier_below": _Kind(_below("threshold"), read=_classifier(brier_report, "brier")),
    "average_precision_above": _Kind(
        _above("threshold"),
        read=_classifier(pr_report, "average_precision", "quantize"),
    ),
    "centroid_cosine_above": _Kind(_above("threshold"), read=_centroid),
}


def _has_distinct(cols: list[Column]) -> bool:
    """True when an aggregate column holds a DISTINCT aggregate.  Catalyst
    plans one with an Expand that replays every input row once per
    distinct child, so fusing it would slow the shared scan; such an entry
    runs as its own job instead."""
    todo = [c._jc.node() for c in cols]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "UnresolvedFunction" and node.isDistinct():
            return True
        children = node.children().iterator()
        while children.hasNext():
            todo.append(children.next())
    return False


def _counts(exps: list[Expectation], schema: T.StructType) -> Cells:
    """The row-local tier's cells over a frame of ``schema``: row count
    ``__n`` and each expectation's violation count ``__m_<i>``, which
    ``_report_struct`` reads.  Every row counts."""
    types = {f.name: f.dataType for f in schema.fields}
    bad = {
        f"__m_{i}": _KINDS[e.kind].bad(F.col(e.column), e.params, types.get(e.column)).cast("long")
        for i, e in enumerate(exps)
    }
    return Cells(F.lit(True), {"__n": F.lit(1), **bad})


def _report_struct(e: Expectation, i: int) -> Column:
    """Report row struct of row-local expectation ``i`` from ``_counts``.
    An empty table or window has no metric: NULL metric and verdict."""
    limit = _KINDS[e.kind].limit
    n = F.col("__n")
    m = F.col(f"__m_{i}").cast("double")
    if limit == "rate":
        metric = F.when(n > 0, m / n)
        threshold = F.lit(float(e.params["rate"]))
        passed = metric < threshold
    else:
        metric = F.when(n > 0, m)
        threshold = F.lit(float(e.params[limit]))
        passed = metric <= threshold
    return F.struct(
        F.lit(e.kind).alias("check"),
        F.lit(e.column).alias("column"),
        F.round(metric, 6).alias("metric"),
        threshold.alias("threshold"),
        passed.alias("passed"),
    )


def _report_row(e: Expectation, metric: float | None) -> tuple:
    """Report row of a driver-side metric.  An empty population (None)
    reports NaN and fails."""
    thr, passed = _KINDS[e.kind].check(e.params, float("nan") if metric is None else metric)
    if metric is None:
        return (e.kind, e.column, float("nan"), thr, False)
    return (e.kind, e.column, round6(float(metric)), thr, bool(passed))


_REPORT_SCHEMA = "check string, column string, metric double, threshold double, passed boolean"


class Suite:
    def __init__(self, expectations: list[Expectation]):
        self.expectations = list(expectations)

    @classmethod
    def from_model(
        cls, model, *, dims: dict[str, DataFrame] | None = None
    ) -> "Suite":
        """Derive a table contract from a declarative Model: one
        expectation per entry of each field's ``coercion.field_constraints``
        table (the required-null check, ge/gt/le/lt, regex, isin, not_null,
        min_size/max_size), so every one counts exactly the rows the fused
        pass flags with that entry's message.  Element ranges become
        ``element_range``, ``Field(unique=True)`` and ``unique_together``
        become ``unique``, and ``Field(ref=(dim_name, key))`` becomes a
        referential check when ``dims`` supplies the dimension.  Identical
        expectations (a required field declared ``not_null``) are kept once.
        A reference user's per-object model therefore doubles as the
        whole-table data contract."""
        dims = dims or {}
        exps: list[Expectation] = []
        for spec in model.__vldt_compile__().fields:
            f, name = spec.field, spec.name
            exps += [
                getattr(expect, c.kind)(name, **c.params)
                for c in field_constraints(f, spec.node, spec.dtype)
                if c.kind is not None
            ]
            if f.element_ge is not None or f.element_le is not None:
                exps.append(expect.element_range(name, lo=f.element_ge, hi=f.element_le))
            if f.unique:
                exps.append(expect.unique(name))
            if f.ref is not None and f.ref[0] in dims:
                exps.append(expect.ref(name, dims[f.ref[0]], f.ref[1]))
        exps += [expect.unique(list(combo)) for combo in getattr(model, "unique_together", None) or []]
        return cls([e for i, e in enumerate(exps) if e not in exps[:i]])

    def run(self, df: DataFrame) -> DataFrame:
        """Evaluate every expectation; returns the report DataFrame
        (check, column, metric, threshold, passed): row-local rows first,
        then the rest, each group in declaration order.

        Row-local expectations and plain aggregates share one ``df.agg``,
        collected as one row.  Every other expectation — an exact distinct
        count, or a kind that reads its own report frame — is one blocking
        job submitted from a thread pool (Spark's scheduler runs jobs from
        separate threads concurrently), so those jobs overlap the fused
        scan and each other.  Pool threads inherit the caller's job group
        and description."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        row_local, fused, own = [], [], []
        for i, e in enumerate(self.expectations):
            k = _KINDS[e.kind]
            if k.bad is not None:
                row_local.append(e)
            elif k.aggs is None:
                own.append((i, e, None))
            else:
                cols = k.aggs(F.col(e.column), e.params)
                (own if _has_distinct(cols) else fused).append((i, e, cols))

        def job(e, cols):
            if cols is None:
                return _KINDS[e.kind].read(df, e)
            return _KINDS[e.kind].metric(e.params, *df.agg(*cols).first())

        metrics: dict[int, float | None] = {}
        rows: list[tuple] = []
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = {
                i: pool.submit(inheritable_thread_target(df.sparkSession)(job), e, cols)
                for i, e, cols in own
            }
            if row_local or fused:
                wide = df.agg(
                    *_counts(row_local, df.schema).aggs(),
                    *[c.alias(f"__a_{i}_{j}") for i, _, cols in fused for j, c in enumerate(cols)],
                )
                one = wide.select(
                    *[_report_struct(e, n).alias(f"__r_{n}") for n, e in enumerate(row_local)],
                    *[f"__a_{i}_{j}" for i, _, cols in fused for j in range(len(cols))],
                ).first()
                rows = [tuple(one[f"__r_{n}"]) for n in range(len(row_local))]
                for i, e, cols in fused:
                    values = [one[f"__a_{i}_{j}"] for j in range(len(cols))]
                    metrics[i] = _KINDS[e.kind].metric(e.params, *values)
            metrics.update((i, f.result()) for i, f in futures.items())
        rows += [_report_row(self.expectations[i], metrics[i]) for i in sorted(metrics)]
        return local_frame(df.sparkSession, rows, _REPORT_SCHEMA)

    def passed(self, df: DataFrame) -> bool:
        """True iff every expectation holds (the CI-gate boolean)."""
        return self.run(df).agg(F.min("passed")).first()[0] is True

    # -- streaming tier ----------------------------------------------------

    def run_stream(
        self,
        stream_df: DataFrame,
        ts_col: str,
        *,
        window: str = "1 day",
        watermark: str = "1 hour",
    ) -> DataFrame:
        """Continuous contract: the row-local tier per event-time window.

        The SAME fused-aggregate expressions run inside one watermarked
        windowed aggregation (stateless expressions + bounded state:
        |open windows| rows), emitting per-window report rows
        (window_start, window_end, check, column, metric, threshold,
        passed) in append mode once the watermark closes a window.
        Whole-table expectations (unique / ref / psi) are not streamable
        here — uniqueness needs cross-batch state
        (streaming/stateful.py) and drift its own monitor
        (streaming/drift_stream.py); declaring one raises."""
        exps = self.expectations
        bad = [e.kind for e in exps if _KINDS[e.kind].bad is None]
        if bad:
            raise ValueError(
                f"run_stream supports row-local expectations only, got: {bad}"
            )
        win = windowed(
            stream_df, ts_col, _counts(exps, stream_df.schema), window=window, watermark=watermark
        )
        rows = [_report_struct(e, i) for i, e in enumerate(exps)]
        return win.select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.explode(F.array(*rows)).alias("s"),
        ).select("window_start", "window_end", "s.*")
