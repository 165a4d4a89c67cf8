"""The benchmark's workloads over the token table.

Each workload builds its DataFrames in ``prepare`` (driver-side, lazy),
runs one pass in ``run`` (every call into the library inside a span named
after the layer it enters) and checks that pass's outputs in ``check``,
outside the timed region.  A pass that raises or whose check reports a
problem counts as failed.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vldt_spark.checks.referential import invalid_fk_values
from vldt_spark.checks.suite import Suite, expect
from vldt_spark.checks.uniqueness import duplicate_keys
from vldt_spark.flagship import TokenSequence, validate_token_table
from vldt_spark.functions.dedup import token_dedup_exact
from vldt_spark.functions.lm import ppl_band_filter, unigram_logprob
from vldt_spark.functions.tokens import sequence_stats
from vldt_spark.plans.ledger import ValidationLedger
from vldt_spark.sources.quarantine import reconcile, write_quarantined
from vldt_spark.sources.token_table import VOCAB, sources_dim

from inputs import dir_usage


def fingerprint(df: DataFrame) -> tuple[DataFrame, tuple]:
    """Order-insensitive (row count, hash sum) of ``df``; returns the
    aggregate it collected, whose plan holds the work that produced ``df``."""
    fp = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(2**31))).alias("h"),
    )
    row = fp.collect()[0]
    return fp, (row["n"], row["h"])


class Workload:
    name: str
    #: untimed passes before the timed window, the first of them cold; they
    #: let the JIT catch up, and all of them count in setup_s
    warmups = 2
    #: whether ``prepare`` reads the drift reference
    needs_shifted = False

    def prepare(self, spark, inputs, workdir: str) -> None:
        self.spark = spark
        self.inputs = inputs
        self.df = spark.read.parquet(inputs.tokens)
        self.dim = sources_dim(spark)

    def reset(self) -> None:
        """Untimed clean-up before each pass."""

    def run(self, tracer):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError


class ValidateTokens(Workload):
    name = "validate_tokens"
    #: after two warm-ups its pass time and CPU still fell by a fifth and a
    #: third over the next four passes while the JIT caught up; more than
    #: three would not fit a run into the sweep's time budget
    warmups = 3

    def run(self, tracer):
        with tracer.span("engine.run"):
            res = validate_token_table(self.df, self.dim)
        with tracer.span("engine.verdicts") as sp:
            verdicts = res.verdicts(["source"])
            vrows = verdicts.collect()
            sp.plan(verdicts)
        with tracer.span("engine.summary") as sp:
            summary = res.summary()
            srows = summary.collect()
            sp.plan(summary)
        return vrows, srows

    def check(self, out) -> list[str]:
        vrows, srows = out
        want = {
            s: (v["n_rows"], v["n_invalid"])
            for s, v in self.inputs.oracle["per_source"].items()
        }
        got = {r["source"]: (r["n_rows"], r["n_invalid"]) for r in vrows}
        problems = []
        if got != want:
            problems.append(f"verdicts {got} != DuckDB oracle {want}")
        n_violations = sum(r["n_violations"] for r in vrows)
        n_summary = sum(r["n"] for r in srows)
        if n_violations != n_summary:
            problems.append(f"summary counts {n_summary} != verdict violations {n_violations}")
        return problems


class IngestTokens(Workload):
    name = "ingest_tokens"

    def prepare(self, spark, inputs, workdir):
        super().prepare(spark, inputs, workdir)
        self.root = os.path.join(workdir, "ingest")
        self.quarantine_root = os.path.join(self.root, "quarantine")
        self.ledger_root = os.path.join(self.root, "ledger")

    def reset(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def run(self, tracer):
        with tracer.span("engine.run"):
            res = validate_token_table(self.df, self.dim)
        with tracer.span("sources.quarantine.write_quarantined") as sp:
            counts = write_quarantined(res, self.quarantine_root)
            if tracer.enabled:
                sp.add(**_written(self.quarantine_root))
        with tracer.span("plans.ledger.run") as sp:
            ledger = ValidationLedger(self.ledger_root, "source")
            parts = ledger.run(
                self.df, TokenSequence, id_cols=["doc_id"], dims={"sources": self.dim}
            )
            if tracer.enabled:
                sp.add(**_written(self.ledger_root))
        return counts, parts

    def write_amp(self) -> float:
        """Bytes the last pass wrote per byte of input."""
        return dir_usage(self.root)[0] / self.inputs.tokens_bytes

    def check(self, out) -> list[str]:
        counts, parts = out
        per_source = self.inputs.oracle["per_source"]
        problems = []
        if not reconcile(self.spark, self.quarantine_root, self.inputs.rows):
            problems.append("quarantine reconcile: valid + quarantined != input rows")
        n_invalid = sum(v["n_invalid"] for v in per_source.values())
        if counts["n_quarantined"] != n_invalid:
            problems.append(f"quarantined {counts['n_quarantined']} != oracle {n_invalid}")
        got = {p: (m["n_rows"], m["n_invalid"]) for p, m in parts.items()}
        want = {s: (v["n_rows"], v["n_invalid_local"]) for s, v in per_source.items()}
        if got != want:
            problems.append(f"ledger partitions {got} != oracle {want}")
        return problems


def _written(root: str) -> dict:
    n_bytes, n_files = dir_usage(root)
    return {"bytes_written": n_bytes, "files_written": n_files}


class _SameAsFirstPass(Workload):
    """Outputs have no independent oracle; each pass must reproduce the
    first pass's outputs exactly."""

    reference = None

    def check(self, out) -> list[str]:
        if self.reference is None:
            self.reference = out
        problems = self.sanity(out)
        if out != self.reference:
            problems.append(f"outputs {out} differ from the first pass {self.reference}")
        return problems

    def sanity(self, out) -> list[str]:
        return []


class AuditTokens(_SameAsFirstPass):
    name = "audit_tokens"

    CALLS = (
        ("functions.tokens.sequence_stats", sequence_stats),
        ("functions.lm.unigram_logprob", lambda df: unigram_logprob(df, VOCAB)),
        ("functions.lm.ppl_band_filter", lambda df: ppl_band_filter(df, VOCAB, exact=False)),
        ("functions.dedup.token_dedup_exact", token_dedup_exact),
    )

    def run(self, tracer):
        fps = []
        for name, call in self.CALLS:
            with tracer.span(name) as sp:
                fp_df, fp = fingerprint(call(self.df))
                sp.plan(fp_df)
            fps.append(fp)
        return fps

    def sanity(self, fps) -> list[str]:
        rows = self.inputs.rows
        n = [fp[0] for fp in fps]
        if n[0] != rows or n[1] != rows or not 0 < n[2] < rows or not 0 < n[3] <= rows:
            return [f"audit row counts {n} do not fit {rows} input rows"]
        return []


class ContractTokens(_SameAsFirstPass):
    name = "contract_tokens"
    needs_shifted = True

    def prepare(self, spark, inputs, workdir):
        super().prepare(spark, inputs, workdir)
        shifted = spark.read.parquet(inputs.shifted)
        self.suite = Suite([
            expect.not_null("doc_id", max_nulls=inputs.rows // 100),
            expect.regex("doc_id", r"^doc-\d{12}$", max_violations=inputs.rows // 100),
            expect.element_range("tokens", lo=0, hi=VOCAB - 1,
                                 max_violations=inputs.rows // 100),
            expect.range("n_tok", lo=1, hi=2048),
            expect.row_count_between(1),
            expect.distinct_count_between("source", 1, 10),
            expect.quantile_between("n_tok", 0.5, 1, 2048),
            expect.heavy_hitter_share_below("source", 0.9),
            expect.unique("doc_id", max_dup_rows=inputs.rows // 100),
            expect.ref("source", self.dim, "source", max_violations=inputs.rows // 100),
            expect.psi_below("n_tok", shifted, 10.0, lo=1, hi=2048),
        ])

    def run(self, tracer):
        with tracer.span("checks.suite.run") as sp:
            report = self.suite.run(self.df)
            rows = [tuple(r) for r in report.collect()]
            sp.plan(report)
        return rows

    def sanity(self, rows) -> list[str]:
        if len(rows) != len(self.suite.expectations):
            return [f"report has {len(rows)} rows for {len(self.suite.expectations)} expectations"]
        return []


class StandaloneChecks(Workload):
    """Traced run only: the uniqueness and RI aggregates that ``engine.run``
    embeds, called on their own so their shuffle shows by itself."""

    name = "standalone_checks"

    def run(self, tracer):
        with tracer.span("checks.uniqueness.duplicate_keys") as sp:
            dups = duplicate_keys(self.df, "doc_id").agg(F.count(F.lit(1)).alias("n"))
            n_dup_keys = dups.collect()[0]["n"]
            sp.plan(dups)
        with tracer.span("checks.referential.invalid_fk_values") as sp:
            bad = invalid_fk_values(self.df, "source", self.dim, "source")
            bad_fk = sorted(r[0] for r in bad.collect())
            sp.plan(bad)
        return n_dup_keys, bad_fk

    def check(self, out) -> list[str]:
        want = (self.inputs.oracle["n_dup_keys"], self.inputs.oracle["bad_fk"])
        return [] if out == want else [f"standalone checks {out} != oracle {want}"]


#: every workload, by name
WORKLOADS = {w.name: w for w in (ValidateTokens, IngestTokens, AuditTokens, ContractTokens)}
