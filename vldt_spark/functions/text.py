"""Text analysis for training-data pipelines — all pure Catalyst expressions.

Every function here stays inside whole-stage codegen (no Python in the hot
path): language-ID is a stopword-frequency heuristic, quality scoring is
length/punct/word-ratio arithmetic, token counting is split-based, and the
document fingerprint is an md5 prefix over whitespace-normalized text
(portable across engines for oracle checks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vldt_spark.cells import Cells, grouped, share

VOCAB = 50257

#: tiny per-language stopword markers for the n-gram/stopword heuristic
_LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " la "],
    "es": [" el ", " y ", " de "],
}


def _count_substr(col: Column, sub: str) -> Column:
    """Occurrences of a literal substring — portable length arithmetic
    (identical semantics in Spark and ANSI SQL/DuckDB for oracle checks)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(sub), F.lit(""))))
        / F.lit(len(sub))
    ).cast("long")


def token_count(text: Column) -> Column:
    """Whitespace token count: split on runs of whitespace after trim."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: split on a GPT-2-style pretokenizer boundary
    set (word / number / punctuation runs), floored by the chars/4 heuristic
    — a cheap, deterministic stand-in for a real tokenizer pass."""
    pieces = F.filter(
        F.split(text, r"(?<=\s)|(?=[^\w\s])|(?<=[^\w\s])|(?<=\d)(?=\D)|(?<=\D)(?=\d)"),
        lambda p: F.length(F.trim(p)) > 0,
    )
    return F.greatest(
        F.size(pieces).cast("long"),
        (F.length(text) / F.lit(4)).cast("long"),
    )


def text_quality(text: Column) -> Column:
    """Quality score in [0,1]: blend of word-length sanity, alpha ratio and
    terminal punctuation — the classic C4/Gopher-style cheap filters."""
    t = F.trim(text)
    n_chars = F.length(t)
    n_words = token_count(t)
    avg_word = n_chars / F.greatest(n_words, F.lit(1))
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z ]", ""))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1))
    word_ok = F.when((avg_word >= 3) & (avg_word <= 12), F.lit(1.0)).otherwise(F.lit(0.0))
    ends_ok = F.when(t.rlike(r"[.!?\"']$"), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round(0.4 * alpha_ratio + 0.4 * word_ok + 0.2 * ends_ok, 6)


def language_score(text: Column, lang: str = "en") -> Column:
    """Stopword-marker frequency per 1k chars — cheap language-ID signal."""
    markers = _LANG_MARKERS.get(lang, _LANG_MARKERS["en"])
    low = F.lower(text)
    total = sum((_count_substr(low, m) for m in markers), F.lit(0))
    return F.round(total * 1000.0 / F.greatest(F.length(text), F.lit(1)), 6)


def language_id(text: Column) -> Column:
    """argmax over the marker heuristics → best-guess language code."""
    scores = [(lang, language_score(text, lang)) for lang in _LANG_MARKERS]
    best = scores[0]
    expr = F.lit(best[0])
    best_score = best[1]
    for lang, s in scores[1:]:
        expr = F.when(s > best_score, F.lit(lang)).otherwise(expr)
        best_score = F.greatest(best_score, s)
    return F.when(best_score <= 0, F.lit("unknown")).otherwise(expr)


def fingerprint(text: Column, *, nchars: int = 16) -> Column:
    """Document fingerprint: md5 prefix of whitespace-normalized lowercase
    text. Collision-safe enough for dedup keys; portable to any engine."""
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.substring(F.md5(norm), 1, nchars)


def _winnow_numpy(codes, k: int, window: int, base: int, mod: int):
    """Winnowing over one doc's char codes (int64 array) — vectorized:
    polynomial hash of all k-grams in k shifted passes, then
    sliding-window minima. Integer-exact (acc < mod·base + 255 « 2^63)."""
    import numpy as np

    n = len(codes)
    if n < k:
        # single clamped gram over whatever chars exist (oracle parity:
        # DuckDB's list slice clamps the same way)
        acc = 0
        for c in codes:
            acc = (acc * base + int(c)) % mod
        return np.array([acc], dtype=np.int64)
    m = n - (k - 1)
    h = np.zeros(m, dtype=np.int64)
    for j in range(k):
        h = (h * base + codes[j : j + m]) % mod
    w = min(window, m)
    from numpy.lib.stride_tricks import sliding_window_view

    mins = sliding_window_view(h, w).min(axis=1)
    return np.unique(mins)


def winnowing_fingerprints(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    base: int = 257,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Winnowing fingerprints (MOSS-style rolling hash): polynomial hash of
    every char k-gram of whitespace-normalized lowercase text, minimum of
    each ``window`` consecutive hashes, deduplicated → one row per
    (doc, fingerprint). Docs sharing a fingerprint share a k-char run.

    A Catalyst-HOF formulation re-evaluates the codes array per gram
    (alias inlining inside lambdas → O(n²) per doc); this is the textbook
    case for an Arrow-vectorized pandas stage instead (B15): numpy does k
    shifted multiply-add passes + sliding-window minima per batch, exact
    int64 arithmetic — portable to the DuckDB oracle. Embarrassingly
    parallel, no shuffle."""
    import pandas as pd
    import numpy as np

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("doc_id", docs.schema[id_col].dataType, True),
            T.StructField("fingerprint", T.LongType(), True),
        ]
    )

    import re

    ws = re.compile(r"\s+")

    def run(batches):
        for pdf in batches:
            ids, fps = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                # mirror the SQL normalization exactly: space-only trim,
                # whitespace-run collapse, lowercase, codepoint values
                norm = ws.sub(" ", str(text or "").strip(" ")).lower()
                codes = np.fromiter(map(ord, norm), dtype=np.int64, count=len(norm))
                u = _winnow_numpy(codes, k, window, base, mod)
                ids.extend([did] * len(u))
                fps.extend(u.tolist())
            yield pd.DataFrame({"doc_id": ids, "fingerprint": fps})

    return docs.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def fingerprint_summary(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Per-doc winnowing summary (count/min/max/sum of the fingerprint set)
    — scalar columns that pin the whole set for oracle comparison."""
    fp = winnowing_fingerprints(docs, text_col=text_col, id_col=id_col, k=k, window=window)
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("fingerprint").alias("min_fp"),
        F.max("fingerprint").alias("max_fp"),
        F.sum("fingerprint").alias("sum_fp"),
    )


def tokenize_documents(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    vocab: int = VOCAB,
) -> DataFrame:
    """documents table → flagship token-sequence shape (BASELINE.json
    input_hint): deterministic hash tokenizer, whitespace pretokenization,
    ids in [0, vocab). Pure expressions — scales to any corpus size."""
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: F.length(w) > 0
    )
    tokens = F.transform(
        words, lambda w: F.pmod(F.xxhash64(F.lower(w)), F.lit(vocab)).cast("int")
    )
    return docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        tokens.alias("tokens"),
        F.size(tokens).cast("int").alias("n_tok"),
        F.col(source_col).alias("source"),
    )


def _norm_words(text: Column) -> Column:
    """Whitespace-normalized lowercase word array (shared normalization
    with fingerprint/word_shingles so the repetition stats line up with
    the dedup family)."""
    return F.filter(
        F.split(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")), " "),
        lambda w: F.length(w) > 0,
    )


def repetition_stats(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1: documents
    dominated by repeated fragments are low-quality training data).

    Returns (id, n_words, dup_word_frac, top_bigram_frac):

      * ``dup_word_frac`` = 1 − |distinct words| / |words| — pure
        higher-order functions, row-local, no shuffle;
      * ``top_bigram_frac`` = occurrences of the most frequent word bigram
        / total bigrams — the classic wordcount shape: explode →
        count per (doc, bigram) → max/sum per doc. Two map-side-combined
        aggregates keyed (id, bigram) then (id); output is one row per
        document either way, never corpus-scale intermediate state.

    Thresholding (e.g. drop top_bigram_frac > 0.18, the Gopher setting)
    is the caller's policy — compose with Suite(expect.range(...)).
    """
    words = _norm_words(F.col(text_col))
    n = F.size(words)
    base = docs.select(
        F.col(id_col),
        words.alias("__w"),
        n.alias("n_words"),
        F.when(
            n > 0, F.lit(1.0) - F.size(F.array_distinct(words)) / n
        ).otherwise(F.lit(0.0)).alias("dup_word_frac"),
    )
    grams = base.select(
        id_col,
        "n_words",
        "dup_word_frac",
        F.explode(
            F.when(
                F.col("n_words") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.col("n_words") - 1, F.lit(1))),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("__w"), i.cast("int")),
                        F.element_at(F.col("__w"), (i + 1).cast("int")),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("bigram"),
    )
    counts = grams.groupBy(id_col, "n_words", "dup_word_frac", "bigram").agg(
        F.count(F.lit(1)).alias("__c")
    )
    agg = counts.groupBy(id_col, "n_words", "dup_word_frac").agg(
        F.max("__c").alias("__top"), F.sum("__c").alias("__tot")
    )
    out = agg.select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round(F.col("__top") / F.col("__tot"), 6).alias("top_bigram_frac"),
    )
    # docs with < 2 words have no bigrams (explode dropped them): re-join
    # with 0.0 so the report covers every document
    empt = base.where(F.col("n_words") < 2).select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.lit(0.0).alias("top_bigram_frac"),
    )
    return out.unionByName(empt)


def pii_flags(text: Column) -> Column:
    """Per-document PII indicators (training-corpus safety screen):
    struct(has_email, has_ip, has_phone booleans). Patterns are kept to
    the regex subset with identical semantics in Java regex and RE2 so
    oracle checks hold; they are SCREENS (high recall on obvious
    formats), not validators — route flagged docs to review/redaction,
    don't assume the negative class is clean."""
    return F.struct(*[text.rlike(pat).alias(f"has_{kind}") for kind, pat in PII_PATTERNS])


def pii_cells(text: Column) -> Cells:
    """The PII family's cells, shared by `pii_report`,
    `streaming.pii_stream.stream_pii_windows` and
    ``expect.pii_frac_below``: n_docs, one count per `PII_PATTERNS`
    screen (n_email, n_ip, n_phone) and n_any.  NULL text carries no
    signal and counts in no cell, n_docs included."""
    hits = {f"n_{kind}": text.rlike(pat) for kind, pat in PII_PATTERNS}
    any_hit = hits["n_email"] | hits["n_ip"] | hits["n_phone"]
    counts = {k: h.cast("long") for k, h in {**hits, "n_any": any_hit}.items()}
    return Cells(text.isNotNull(), {"n_docs": F.lit(1), **counts})


def pii_report(
    docs: DataFrame, *, text_col: str = "text", by: str | None = None
) -> DataFrame:
    """Corpus-level PII screen counts (one aggregate pass; per-``by``
    group when given): (n_docs, n_email, n_ip, n_phone) over the
    documents whose text is not NULL (`pii_cells`)."""
    keys = [by] if by else []
    return grouped(docs, keys, pii_cells(F.col(text_col))).select(
        *keys, "n_docs", "n_email", "n_ip", "n_phone"
    )


# -- model-based quality classification -------------------------------------

# Deterministic public-heuristic weights standing in for a TRAINED quality
# classifier (fasttext / DCLM-style): the Spark-side plumbing — feature
# extraction in whole-stage codegen, a weights vector applied as a dot
# product, sigmoid calibration, threshold filtering — is exactly what a
# real trained linear model needs; swap these constants for learned ones.
DEFAULT_QUALITY_WEIGHTS = {
    "bias": -1.2,
    "alpha_ratio": 2.8,
    "avg_word_ok": 1.4,
    "ends_punct": 0.7,
    "digit_ratio": -2.5,
    "upper_ratio": -1.8,
}


def quality_features(text: Column) -> dict[str, Column]:
    """The classifier's feature map — every feature a pure Catalyst
    expression (codegen, no UDF): alphabetic ratio, word-length sanity,
    terminal punctuation, digit density, uppercase density."""
    t = F.trim(text)
    n_chars = F.greatest(F.length(t), F.lit(1))
    n_words = token_count(t)
    avg_word = F.length(t) / F.greatest(n_words, F.lit(1))
    return {
        "alpha_ratio": F.length(F.regexp_replace(t, r"[^A-Za-z ]", "")) / n_chars,
        "avg_word_ok": F.when((avg_word >= 3) & (avg_word <= 12), F.lit(1.0)).otherwise(F.lit(0.0)),
        "ends_punct": F.when(t.rlike(r"[.!?\"']$"), F.lit(1.0)).otherwise(F.lit(0.0)),
        "digit_ratio": F.length(F.regexp_replace(t, r"[^0-9]", "")) / n_chars,
        "upper_ratio": F.length(F.regexp_replace(t, r"[^A-Z]", "")) / n_chars,
    }


def classifier_quality_score(
    text: Column, weights: dict[str, float] | None = None
) -> Column:
    """Calibrated quality probability: sigmoid(w·features + bias).
    ``weights`` maps feature name → coefficient (plus "bias"); unknown
    names raise at plan time, not mid-job."""
    w = dict(DEFAULT_QUALITY_WEIGHTS if weights is None else weights)
    feats = quality_features(text)
    bias = float(w.pop("bias", 0.0))
    unknown = set(w) - set(feats)
    if unknown:
        raise ValueError(f"unknown quality features: {sorted(unknown)}")
    z = F.lit(bias)
    for name, coef in w.items():
        z = z + F.lit(float(coef)) * feats[name]
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_classifier_filter(
    docs: DataFrame,
    *,
    text_col: str = "text",
    threshold: float = 0.5,
    weights: dict[str, float] | None = None,
    score_col: str = "quality_prob",
) -> DataFrame:
    """Model-based quality filter: keep docs whose calibrated score
    clears ``threshold``; the score column rides along for auditing.
    Shuffle-free — one projection + filter pushed into the scan stage."""
    scored = docs.withColumn(
        score_col, classifier_quality_score(F.col(text_col), weights)
    )
    return scored.where(F.col(score_col) >= F.lit(float(threshold)))


# -- Gopher rule bundle --------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    text: Column,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
) -> Column:
    """The published Gopher quality-filter rule set (Rae et al. 2021,
    Appendix A) as a struct of NAMED booleans — one field per rule plus
    ``passes`` (their conjunction) — so a pipeline can audit WHICH rule
    killed a document, not just that one did (the scalar
    ``text_quality`` / ``classifier_quality_score`` can't say).

    Every rule is a pure Catalyst expression (split + higher-order
    functions + replace-count tricks): zero Python in the row path, the
    whole bundle evaluates inside one whole-stage-codegen projection, and
    a downstream ``where(col.getField("passes"))`` pushes into the scan.
    Defaults are the paper's thresholds; all are keyword-tunable.
    """
    t = F.trim(text)
    words = F.filter(F.split(t, r"\s+"), lambda w: F.length(w) > 0)
    nw = F.size(words)
    nw1 = F.greatest(nw, F.lit(1))
    mean_len = (
        F.aggregate(
            words, F.lit(0).cast("long"), lambda a, w: a + F.length(w).cast("long")
        ).cast("double")
        / nw1
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
        + (F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit(""))))
    )
    symbol_ratio = (n_hash + n_ellipsis) / nw1
    lines = F.split(text, "\n")
    nl1 = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]"))) / nl1
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))) / nl1
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / nw1
    )
    padded = F.concat(
        F.lit(" "), F.lower(F.regexp_replace(t, r"\s+", " ")), F.lit(" ")
    )
    n_stop = sum(
        (
            F.when(F.contains(padded, F.lit(f" {sw} ")), F.lit(1)).otherwise(F.lit(0))
            for sw in GOPHER_STOPWORDS
        ),
        F.lit(0),
    )
    rules = {
        "word_count_ok": (nw >= min_words) & (nw <= max_words),
        "mean_word_len_ok": (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len),
        "symbol_ratio_ok": symbol_ratio <= max_symbol_ratio,
        "bullet_lines_ok": bullet_frac <= max_bullet_line_frac,
        "ellipsis_lines_ok": ellipsis_frac <= max_ellipsis_line_frac,
        "alpha_words_ok": alpha_frac >= min_alpha_word_frac,
        "stopwords_ok": n_stop >= min_stopwords,
    }
    passes = None
    for c in rules.values():
        passes = c if passes is None else (passes & c)
    return F.struct(
        *[c.alias(name) for name, c in rules.items()], passes.alias("passes")
    )


def gopher_report(
    docs: DataFrame, *, text_col: str = "text", **thresholds
) -> DataFrame:
    """One-row corpus report: the FAILURE fraction of every Gopher rule
    plus the overall pass fraction — the shape a corpus-health dashboard
    ingests. One scalar-partial aggregate (map-side combined); the fact
    table never shuffles."""
    r = gopher_rules(F.col(text_col), **thresholds)
    flagged = docs.select(r.alias("g"))
    names = [
        "word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
        "bullet_lines_ok", "ellipsis_lines_ok", "alpha_words_ok",
        "stopwords_ok",
    ]
    aggs = [
        F.round(
            F.avg(F.when(F.col(f"g.{n}"), F.lit(0.0)).otherwise(F.lit(1.0))), 6
        ).alias(n.replace("_ok", "_fail_frac"))
        for n in names
    ] + [
        F.round(
            F.avg(F.when(F.col("g.passes"), F.lit(1.0)).otherwise(F.lit(0.0))), 6
        ).alias("pass_frac"),
        F.count(F.lit(1)).alias("n_docs"),
    ]
    return flagged.agg(*aggs)


def _c4_kept_lines(lines: Column, min_words: int) -> Column:
    """The ``lines`` (an array) that C4's line rules keep (`c4_rules`)."""

    def kept(line: Column) -> Column:
        words = F.filter(F.split(F.trim(line), r"\s+"), lambda w: F.length(w) > 0)
        return (
            F.trim(line).rlike(r'[.!?"]$')
            & (F.size(words) >= min_words)
            & ~F.contains(F.lower(line), F.lit("javascript"))
        )

    return F.filter(lines, kept)


def c4_rules(
    text: Column,
    *,
    min_words: int = 5,
    min_sentences: int = 3,
) -> Column:
    """The published C4 cleaning heuristics (Raffel et al. 2020, §2.2)
    as a struct of named fields — the line-level web-text companion to
    `gopher_rules`' document-level statistics:

    line rules (a line is KEPT iff all three hold):
    - ends in a terminal punctuation mark (``. ! ?`` or a closing
      double quote) after trimming;
    - has at least ``min_words`` whitespace words;
    - does not contain the word "javascript" (case-insensitive) — the
      boilerplate "enable javascript" banner screen;

    document rules (fields of the returned struct):
    - ``lorem_ok`` — no "lorem ipsum" placeholder text anywhere;
    - ``brace_ok`` — no ``{`` (C4's code-page screen);
    - ``sentences_ok`` — the KEPT text still holds ≥ ``min_sentences``
      sentences (terminal-punctuation count);
    - ``n_lines`` / ``n_kept_lines`` / ``kept_frac`` — line-filter
      accounting (kept_frac half-up 6dp);
    - ``passes`` — all document rules AND at least one kept line.

    Like the Gopher bundle every rule is a pure Catalyst expression
    (split + HOF filter + regexp counts) evaluating inside one
    whole-stage-codegen projection — zero Python, zero exchange.  C4's
    remaining rule, three-sentence-span dedup across pages, is corpus-
    level dedup, not a row-local rule — `paragraph_dedup` /
    `exact_substr_dedup` are this engine's implementations of it.
    """
    lines = F.split(text, "\n")
    kept = _c4_kept_lines(lines, min_words)
    kept_text = F.array_join(kept, "\n")
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    n_sentences = F.regexp_count(kept_text, F.lit(r"[.!?]"))
    lorem_ok = ~F.contains(F.lower(text), F.lit("lorem ipsum"))
    brace_ok = ~F.contains(text, F.lit("{"))
    sentences_ok = n_sentences >= min_sentences
    passes = lorem_ok & brace_ok & sentences_ok & (n_kept >= 1)
    return F.struct(
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        F.round(n_kept / F.greatest(n_lines, F.lit(1)), 6).alias("kept_frac"),
        n_sentences.alias("n_sentences"),
        lorem_ok.alias("lorem_ok"),
        brace_ok.alias("brace_ok"),
        sentences_ok.alias("sentences_ok"),
        passes.alias("passes"),
    )


def c4_clean(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """Apply the C4 heuristics: drop failing documents and replace
    ``text_col`` with the kept lines (newline-rejoined), preserving all
    other columns.  Row-local projection + filter — the predicate sits
    directly over the scan, so Parquet row-group pruning and codegen
    both apply; nothing shuffles."""
    r = c4_rules(F.col(text_col), min_words=min_words, min_sentences=min_sentences)
    kept_text = F.array_join(_c4_kept_lines(F.split(F.col(text_col), "\n"), min_words), "\n")
    return (
        docs.withColumn("__c4", r)
        .where(F.col("__c4.passes"))
        .withColumn(text_col, kept_text)
        .drop("__c4")
    )


def c4_cells(text: Column, **thresholds) -> Cells:
    """The C4 family's cells, shared by `c4_report`,
    `streaming.c4_stream.stream_c4_windows` and
    ``expect.c4_pass_frac_above``: n_docs, n_pass, one failure count per
    document rule (n_lorem, n_brace, n_few_sentences) and kept_sum, the
    sum of ``kept_frac``.  ``thresholds`` go to `c4_rules`.  NULL text
    carries no signal and counts in no cell, n_docs included."""
    c = c4_rules(text, **thresholds)
    return Cells(
        text.isNotNull(),
        {
            "n_docs": F.lit(1),
            "n_pass": c.getField("passes").cast("long"),
            "n_lorem": (~c.getField("lorem_ok")).cast("long"),
            "n_brace": (~c.getField("brace_ok")).cast("long"),
            "n_few_sentences": (~c.getField("sentences_ok")).cast("long"),
            "kept_sum": c.getField("kept_frac"),
        },
    )


def c4_report(
    docs: DataFrame,
    *,
    text_col: str = "text",
    by: str | None = None,
    **thresholds,
) -> DataFrame:
    """Corpus C4-rule report, optionally per group: document counts,
    failure fraction of each document rule, overall pass fraction, and
    the mean kept-line fraction, over the documents whose text is not
    NULL (`c4_cells`).  One scalar-partial hash aggregate — the exchange
    is |groups| rows; the fact table never shuffles."""
    keys = [by] if by else []
    n = F.col("n_docs")
    return grouped(docs, keys, c4_cells(F.col(text_col), **thresholds)).select(
        *keys,
        "n_docs",
        share(F.col("n_lorem"), n).alias("lorem_fail_frac"),
        share(F.col("n_brace"), n).alias("brace_fail_frac"),
        share(F.col("n_few_sentences"), n).alias("sentences_fail_frac"),
        share(F.col("n_pass"), n).alias("pass_frac"),
        share(F.col("kept_sum"), n).alias("mean_kept_frac"),
    )


# -- PII redaction -----------------------------------------------------------

#: the same Java-regex/RE2-portable screen patterns ``pii_flags`` uses,
#: keyed by the redaction-token kind. Order matters and is fixed: email
#: first (its local part may contain digits a later pattern would mangle),
#: then IPs, then phones.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"),
)


def pii_redact(
    docs: DataFrame,
    *,
    text_col: str = "text",
    out_col: str = "text",
    counts: bool = True,
) -> DataFrame:
    """Redact the ``pii_flags`` screen patterns from ``text_col``,
    replacing each match with ``<KIND>`` (``<EMAIL>`` / ``<IP>`` /
    ``<PHONE>``). With ``counts=True`` (default) the per-document match
    counts — measured on the ORIGINAL text, before any replacement, so
    the audit is independent of redaction order — are added as
    ``n_email/n_ip/n_phone`` int columns.

    Reference parity: the reference validates/flags but never mutates
    (vldt has no redaction op); this is the training-corpus-safety
    extension of its constraint surface — the standard pipeline step
    after a `pii_report` screen fires. Everything is whole-stage-codegen
    `regexp_replace`/`regexp_count`: zero Python, zero exchange, a pure
    row-local projection that scales linearly at any corpus size.
    """
    t = F.col(text_col)
    cols = [c for c in docs.columns if c != text_col or out_col != text_col]
    proj = list(cols)
    if counts:
        proj += [
            F.regexp_count(t, F.lit(pat)).alias(f"n_{kind}")
            for kind, pat in PII_PATTERNS
        ]
    red = t
    for kind, pat in PII_PATTERNS:
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return docs.select(*proj, red.alias(out_col))


def pii_redact_report(
    docs: DataFrame, *, text_col: str = "text", by: str | None = None
) -> DataFrame:
    """Corpus-level redaction audit (one aggregate pass; per-``by`` group
    when given): documents touched, matches replaced per kind, and the
    exact character delta the redaction produced —
    (n_docs, n_docs_redacted, n_email, n_ip, n_phone, chars_removed).
    ``chars_removed`` may be negative when the redaction token is longer
    than the matched span; it is the signed byte-budget change a storage
    planner needs. Same scale shape and NULL rule as ``pii_report``:
    scalar partials only, the fact table never shuffles, and NULL text
    counts in no cell."""
    keys = [by] if by else []
    src = docs.select(*keys, F.col(text_col).alias("__orig"))
    red = pii_redact(src, text_col="__orig", out_col="__red")
    n = {f"n_{kind}": F.col(f"n_{kind}") for kind, _ in PII_PATTERNS}
    cells = Cells(
        F.col("__orig").isNotNull(),
        {
            "n_docs": F.lit(1),
            "n_docs_redacted": ((n["n_email"] + n["n_ip"] + n["n_phone"]) > 0).cast("long"),
            **n,
            "chars_removed": F.length("__orig") - F.length("__red"),
        },
    )
    return grouped(red, keys, cells)
