"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

The flagship number is the full fused validation pass (all checks +
uniqueness + RI, one scan) over a deterministic synthetic token table
(BASELINE.json input_hint shape) — reported both as seconds and as
validated sequences/sec (the BASELINE.json metric).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TOKEN_ROWS = int(os.environ.get("VLDT_BENCH_TOKEN_ROWS", "1000000"))
# this VM's wall-clock varies 3-8× run-to-run under external interference;
# best-of-N estimates steady-state (same policy as BENCH/BASELINE.md reps).
# The per-rep arrays are persisted in the output JSON and the median is
# reported alongside best, so a single congestion wave cannot silently
# write the round's headline (round-2 lesson: driver recorded 44.9 s for a
# query whose quiet-window steady state is ~6.5 s).
REPS = int(os.environ.get("VLDT_BENCH_REPS", "3"))
# the flagship is the headline metric — give it more reps so at least one
# lands outside any congestion wave
FLAGSHIP_REPS = int(os.environ.get("VLDT_BENCH_FLAGSHIP_REPS", "5"))
CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")

# Single source of truth for every timed row. run_benchmarks() asserts its
# timings match this set exactly, and the pytest length guard builds the
# worst-case compact line from it — so adding a bench row without checking
# the driver's stdout-tail budget fails loudly, not silently (round-3
# lesson: an overgrown final line -> BENCH_r03 "parsed": null).
BENCH_QUERY_NAMES = [
    "flagship_validate_tokens",
    "validate_lineitem_verdicts",
    "dup_keys_lineitem",
    "ri_lineitem_orders",
    "colstats_lineitem",
    "histogram_events_value",
    "psi_documents_nchars",
    "minhash_dedup_pairs",
    "simhash_near_pairs",
    "token_count_documents",
    "text_quality_documents",
    "knn_cosine_embeddings",
    "embedding_near_dups",
    "contamination_report_documents",
    "chunk_layout_documents",
    "embedding_drift_by_label",
    "paragraph_dedup_documents",
    "temperature_sample_documents",
    "quantiles_sketch_lineitem",
    "suite_rowlocal_lineitem",
    "tdigest_lineitem_price",
    "cms_heavy_hitters_documents",
    "dup_ngram_fraction_documents",
    "dup_ngram_screened",
    "exact_substr_documents",
    "ivf_pq_topk",
    "sequence_stats_tokens",
    "unigram_logprob_tokens",
    "token_dedup_exact",
    "asof_clicks_events",
    "incremental_dedup",
    "pack_nextfit",
    "gopher_report",
    "mixture_epochs",
    "corpus_shuffle",
    "auc_quality",
    "ppl_band_tokens",
    "corpus_card",
    "dup_source_matrix",
    "c4_clean",
    "token_affix",
]


def build_session(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("vldt_spark_bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # token table parquet compresses hard; default 128MB splits would
        # coalesce the scan onto ~4 cores — size splits so the fused
        # validation pass parallelizes across all threads
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.driver.memory", os.environ.get("VLDT_BENCH_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def ensure_token_table(spark, n_rows: int) -> str:
    """Materialize the synthetic token table once (generation excluded from
    the measured validation pass)."""
    path = os.path.join(CACHE_DIR, f"tokens_{n_rows}.parquet")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from vldt_spark.sources.token_table import token_sequences

        token_sequences(spark, n_rows, seed=42, partitions=CPUS * 4).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def run_benchmarks(spark) -> tuple[dict[str, float], dict[str, list[float]]]:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from vldt_spark.flagship import validate_token_table
    from vldt_spark.sources.token_table import sources_dim

    timings: dict[str, float] = {}
    rep_arrays: dict[str, list[float]] = {}

    def timed(name: str, fn, reps: int = REPS):
        print(f"[bench] {name} ...", file=sys.stderr, flush=True)
        els: list[float] = []
        out = None
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            els.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(els)
        rep_arrays[name] = els
        print(f"[bench] {name}: best {timings[name]}s reps {els}", file=sys.stderr, flush=True)
        return out

    # flagship: full validation of the token table.
    # The token scan is memory-bandwidth-bound (wide int arrays): beyond
    # ~half the logical cores, concurrent scan tasks slow each other down
    # (quiet-window sweep: 8→12.0s, 12→4.5s, 16→2.8s, 24→2.5s, 32→22s on
    # 1M rows; under external congestion the optimum shifts lower).
    # Capping scan concurrency is the local analogue of tuning executor
    # cores per node on a real cluster.
    scan_slots = int(os.environ.get("VLDT_BENCH_SCAN_SLOTS", str(max(8, CPUS // 2))))
    tok_path = ensure_token_table(spark, TOKEN_ROWS)
    toks = spark.read.parquet(tok_path).coalesce(scan_slots)
    dims = sources_dim(spark)

    def flagship():
        res = validate_token_table(toks, dims)
        # one action driving the fused pass + verdict aggregation
        return res.verdicts(["source"]).collect()

    flagship()  # JIT/codegen warm-up — measure steady state
    timed("flagship_validate_tokens", flagship, reps=FLAGSHIP_REPS)

    # heavy standalone checks on sf tables (each: one action)
    qs = entry_mod.queries()
    headline = [
        "validate_lineitem_verdicts",
        "dup_keys_lineitem",
        "ri_lineitem_orders",
        "colstats_lineitem",
        "histogram_events_value",
        "psi_documents_nchars",
        "minhash_dedup_pairs",
        "simhash_near_pairs",
        "token_count_documents",
        "text_quality_documents",
        "knn_cosine_embeddings",
        "embedding_near_dups",
        "contamination_report_documents",
        "chunk_layout_documents",
        "embedding_drift_by_label",
        "paragraph_dedup_documents",
        "temperature_sample_documents",
    ]
    for name in headline:
        fn = qs[name]
        timed(name, lambda f=fn: f(spark, SF_DIR).collect())

    # quantile SKETCH path (percentile_approx) — this is what runs at scale
    # (mergeable partials, bounded memory); the oracle gate keeps the exact
    # percentile variant, the bench clock times the scale path.
    from vldt_spark.checks.column_stats import numeric_quantiles

    def quantiles_sketch():
        li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).select(
            "l_quantity", "l_extendedprice"
        )
        return numeric_quantiles(
            li, ["l_quantity", "l_extendedprice"], [0.25, 0.5, 0.75, 0.99]
        ).collect()

    timed("quantiles_sketch_lineitem", quantiles_sketch)

    # the declarative contract's row-local tier: five expectations fused
    # into ONE aggregate pass over the fact table
    from vldt_spark.checks.suite import Suite, expect

    def suite_rowlocal():
        li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        suite = Suite(
            [
                expect.not_null("l_orderkey"),
                expect.range("l_quantity", lo=1.0, hi=50.0),
                expect.range("l_discount", lo=0.0, hi=1.0),
                expect.isin("l_returnflag", ["A", "N", "R"]),
                expect.isin("l_linestatus", ["O", "F"]),
            ]
        )
        return suite.run(li).collect()

    timed("suite_rowlocal_lineitem", suite_rowlocal)

    # round-4 sketch/overlap additions: the t-digest two-stage fold, the
    # count-min heavy-hitter pipeline, and the shingle-bounded corpus
    # overlap — each one action at sf scale
    from vldt_spark.checks.cms import cms_heavy_hitters
    from vldt_spark.checks.tdigest import tdigest_quantiles
    from vldt_spark.functions.dedup import duplicated_ngram_fraction

    def tdigest_bench():
        li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        return tdigest_quantiles(
            li, "l_extendedprice", [0.01, 0.5, 0.99], by="l_returnflag"
        ).collect()

    timed("tdigest_lineitem_price", tdigest_bench)

    def cms_bench():
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        return cms_heavy_hitters(docs, "source", k=10).collect()

    timed("cms_heavy_hitters_documents", cms_bench)

    def overlap_bench():
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        return duplicated_ngram_fraction(docs).agg(
            F.sum("n_duplicated"), F.sum("n_shingles")
        ).collect()

    timed("dup_ngram_fraction_documents", overlap_bench)

    # round-5 additions: the Bloom-screened overlap (the 100 TB shape —
    # no join-back exchange), ExactSubstr span removal, and the
    # product-quantized ANN path
    from vldt_spark.functions.dedup import (
        duplicated_ngram_fraction_screened,
        exact_substr_dedup,
    )

    def overlap_screened_bench():
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        return duplicated_ngram_fraction_screened(docs).agg(
            F.sum("n_duplicated"), F.sum("n_shingles")
        ).collect()

    timed("dup_ngram_screened", overlap_screened_bench)

    def exact_substr_bench():
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        return exact_substr_dedup(docs, k=5).agg(
            F.sum("n_removed_words"), F.sum("n_spans")
        ).collect()

    timed("exact_substr_documents", exact_substr_bench)

    timed("ivf_pq_topk", lambda: qs["ivf_pq_topk"](spark, SF_DIR).collect())

    # round-5: the per-sequence degenerate audit over the SAME 1M-row
    # token table the flagship validates — a second full input_hint-shaped
    # pass (entropy / runs / distinct ratio), zero exchanges
    from vldt_spark.functions.tokens import sequence_stats

    def seq_stats_bench():
        return (
            sequence_stats(toks, id_col="doc_id")
            .agg(
                F.count(F.lit(1)),
                F.avg("entropy"),
                F.max("max_run"),
                F.avg("distinct_ratio"),
            )
            .collect()
        )

    timed("sequence_stats_tokens", seq_stats_bench)

    # round-5: unigram-LM scoring of the SAME 1M-row token table at the
    # real 50257-id vocab — train (bincount fold, |vocab| exchange rows per
    # partition) + score (one mapInPandas scan, log-prob vector closed
    # over); and the as-of join at sf event scale (one key shuffle,
    # |left|+|right| rows, never their product)
    from vldt_spark.functions.lm import unigram_logprob
    from vldt_spark.sources.token_table import VOCAB

    def unigram_bench():
        return (
            unigram_logprob(toks, VOCAB)
            .agg(F.count(F.lit(1)), F.avg("mean_logp"), F.avg("ppl"))
            .collect()
        )

    timed("unigram_logprob_tokens", unigram_bench)

    # round-5: exact sequence dedup of the SAME 1M-row token table on the
    # array-native 128-bit key (two salted xxhash64 passes over the raw
    # token array — zero string rendering; survivors semi-joined back, so
    # full rows never shuffle)
    from vldt_spark.functions.dedup import token_dedup_exact

    def token_dedup_bench():
        return token_dedup_exact(toks).count()

    timed("token_dedup_exact", token_dedup_bench)

    timed(
        "asof_clicks_events",
        lambda: qs["asof_clicks_events"](spark, SF_DIR).collect(),
    )

    # round-5 late additions: Bloom-routed incremental dedup (the
    # daily-crawl ingest shape — misses never ride an exchange), no-split
    # next-fit packing (one bucket exchange + sequential pack per stream),
    # and the Gopher rule report (pure codegen, scalar partials only)
    for short, gate in (
        ("incremental_dedup", "incremental_dedup_documents"),
        ("pack_nextfit", "pack_nextfit_documents"),
        ("gopher_report", "gopher_report_documents"),
    ):
        fn = qs[gate]
        timed(short, lambda f=fn: f(spark, SF_DIR).collect())

    # round-5 final additions: token-budget mixture materialization and
    # the deterministic corpus shuffle — both single-fact-scan plans
    # (broadcast epoch table + row-local explode; one shard exchange +
    # local sort), timed over the documents table end-to-end
    from vldt_spark.functions.sampling import corpus_shuffle, mixture_epochs

    def mixture_epochs_bench():
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        return (
            mixture_epochs(
                docs, "source", "doc_id", "n_chars",
                {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
                max_epochs=5.0,
            )
            .agg(F.count(F.lit(1)), F.sum("n_chars"), F.max("epoch"))
            .collect()
        )

    timed("mixture_epochs", mixture_epochs_bench)

    def corpus_shuffle_bench():
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        # with_pos forces the within-shard sort to actually run (an
        # order-insensitive agg would let EliminateSorts drop it)
        shuffled = corpus_shuffle(docs, "doc_id", 32, with_pos=True)
        return shuffled.groupBy("shard").agg(
            F.count(F.lit(1)), F.max("pos"), F.min("doc_id")
        ).collect()

    timed("corpus_shuffle", corpus_shuffle_bench)

    def auc_quality_bench():
        from vldt_spark.checks.classifier_eval import auc_report
        from vldt_spark.functions.text import classifier_quality_score

        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        audit = docs.select(
            F.round(classifier_quality_score(F.col("text")), 6).alias("score"),
            (F.col("doc_id") % 5 != 0).alias("y"),
        )
        return auc_report(audit, "score", "y").collect()

    timed("auc_quality", auc_quality_bench)

    # round-5 final session: perplexity-band pruning over the SAME 1M-row
    # token table on the 100 TB strategy (percentile_approx thresholds
    # broadcast back — no sort, no per-group fact shuffle; the exact
    # percent_rank twin is the oracle gate, not the bench row), plus the
    # dataset card and the cross-source duplicate matrix over documents
    from vldt_spark.functions.corpus import corpus_card
    from vldt_spark.functions.dedup import dup_source_matrix
    from vldt_spark.functions.lm import ppl_band_filter

    def ppl_band_bench():
        return (
            ppl_band_filter(
                toks, VOCAB, lo=0.1, hi=0.9, by="source", exact=False
            )
            .agg(F.count(F.lit(1)), F.avg("ppl"))
            .collect()
        )

    timed("ppl_band_tokens", ppl_band_bench)

    def corpus_card_bench():
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        return corpus_card(docs).collect()

    timed("corpus_card", corpus_card_bench)

    def dup_source_matrix_bench():
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        dup = docs.select(
            "source",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit("dup "), (F.col("doc_id") % 7).cast("string")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        return dup_source_matrix(dup).collect()

    timed("dup_source_matrix", dup_source_matrix_bench)

    def c4_clean_bench():
        # scan-bound codegen filter: split + HOF line predicates + doc
        # screens in one projection, zero exchange
        from vldt_spark.functions.text import c4_clean
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        return c4_clean(docs).agg(F.count(F.lit(1))).collect()

    timed("c4_clean", c4_clean_bench)

    def token_affix_bench():
        # slice-key groupBy (partial-aggregated 48-byte keys) + bounded
        # ranking window over the >=2-doc survivors
        from vldt_spark.functions.tokens import token_affix_report
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        toks = docs.select(
            "doc_id",
            F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c)).alias("tokens"),
        )
        return token_affix_report(toks, k=12, side="prefix", top=20).collect()

    timed("token_affix", token_affix_bench)

    missing = set(BENCH_QUERY_NAMES) ^ set(timings)
    assert not missing, f"bench rows drifted from BENCH_QUERY_NAMES: {missing}"
    return timings, rep_arrays


def main():
    spark = build_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/codegen once so timings measure steady-state
    spark.range(1000).agg({"id": "sum"}).collect()

    timings, rep_arrays = run_benchmarks(spark)
    total = round(sum(timings.values()), 3)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    fl_reps = rep_arrays["flagship_validate_tokens"]
    seqs_per_sec = round(TOKEN_ROWS / timings["flagship_validate_tokens"], 1)
    sf = SF_DIR.rstrip("/").split("sf")[-1]

    # Full per-rep detail: file + stderr ONLY. Round 3 put the rep arrays on
    # the final stdout line and the ~2.4 KB line overflowed the driver's
    # ~2000-char stdout tail capture -> BENCH_r03 "parsed": null. stdout must
    # carry exactly ONE compact JSON line, guaranteed < 1.5 KB.
    detail = {
        "metric": "validation_bench_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "token_rows": TOKEN_ROWS,
        "validated_seqs_per_sec": seqs_per_sec,
        "validated_seqs_per_sec_median": round(TOKEN_ROWS / median(fl_reps), 1),
        "queries": timings,
        "queries_median": {k: round(median(v), 3) for k, v in rep_arrays.items()},
        "reps": rep_arrays,
        "cpus": CPUS,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    print(f"[bench] detail -> {detail_path}", file=sys.stderr, flush=True)
    print(json.dumps(detail), file=sys.stderr, flush=True)

    line = compact_line(
        total=total,
        timings=timings,
        sf=sf,
        token_rows=TOKEN_ROWS,
        seqs_per_sec=seqs_per_sec,
        seqs_per_sec_median=round(TOKEN_ROWS / median(fl_reps), 1),
        flagship_reps=fl_reps,
        cpus=CPUS,
    )
    print(line, flush=True)
    spark.stop()


def compact_line(
    *,
    total: float,
    timings: dict[str, float],
    sf: str,
    token_rows: int,
    seqs_per_sec: float,
    seqs_per_sec_median: float,
    flagship_reps: list[float],
    cpus: int,
) -> str:
    """The ONE stdout JSON line the driver parses. Per-query values round
    to 2 decimals here (full 3-decimal values + rep arrays live in
    BENCH_DETAIL.json) and a pytest pins the worst-case length of this
    line under the driver's stdout-tail budget."""
    compact = {
        "metric": "validation_bench_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
        "token_rows": token_rows,
        "validated_seqs_per_sec": seqs_per_sec,
        "validated_seqs_per_sec_median": seqs_per_sec_median,
        "flagship_reps": flagship_reps,
        "cpus": cpus,
    }
    line = json.dumps(compact)
    # Tiered degradation: never outgrow the driver's ~2000-char stdout tail.
    # Each tier drops information that also lives in BENCH_DETAIL.json (and
    # on stderr), so the stdout line stays parseable with the queries map
    # for as long as possible.
    if len(line) > 1450:  # tier 1: reps are in detail + stderr
        compact.pop("flagship_reps", None)
        line = json.dumps(compact)
    if len(line) > 1450:  # tier 2: integer-second per-query values
        compact["queries"] = {k: int(round(v)) for k, v in timings.items()}
        line = json.dumps(compact)
    if len(line) > 1450:  # tier 3: median throughput is in detail + stderr
        compact.pop("validated_seqs_per_sec_median", None)
        line = json.dumps(compact)
    if len(line) > 1500:  # last resort: totals only
        compact.pop("queries", None)
        line = json.dumps(compact)
    return line


if __name__ == "__main__":
    main()
