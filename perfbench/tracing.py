"""Spans around the benchmark's calls into each layer, and the Spark
counters attributed to them.

A span is recorded from outside the library: the benchmark opens one
around a call into a layer's public function and the action that consumes
its result.  Spans stay in memory; Spark's status store and the final
adaptive plans are read once, when the run ends, so reading them adds
nothing to the timed passes.

Attribution is by Spark job id: the benchmark runs one call at a time, so
the jobs a span started are those whose ids fall between the scheduler's
next job id at its start and at its end, and the stages it ran are the
stages those jobs created (a stage reused from an earlier job belongs to
the earlier span).  Each span also sets the job description to its name,
so the stages carry it in Spark's own UI and event log.  Jobs that a
library call submits from its own threads (``Suite.run``) do not inherit
the description but are still attributed by id.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: counters of a span that ran Spark jobs.  ``input_records`` stands in for
#: the stages' ``input_bytes``, which misses parquet's vectored reads (they
#: run on reader threads that Hadoop's per-thread statistics do not see);
#: ``input_bytes`` is still written to the span records.
_JOB = ("wall_s", "stages", "scan_stages", "input_records", "shuffle_write_bytes",
        "executor_cpu_s", "joins")
_PYTHON = ("python_s", "python_bytes")
_WRITE = ("wall_s", "stages", "scan_stages", "input_records", "shuffle_write_bytes",
          "executor_cpu_s", "bytes_written", "files_written")

#: span name -> counters reported as per-layer metrics.  Names are the
#: library's module paths (``vldt_spark.`` dropped) and function names.
LAYERS: dict[str, tuple[str, ...]] = {
    "model.compile": ("wall_s",),
    "engine.run": ("wall_s",),
    "engine.verdicts": _JOB,
    "engine.summary": _JOB,
    "checks.uniqueness.duplicate_keys": _JOB,
    "checks.referential.invalid_fk_values": _JOB,
    "checks.suite.run": _JOB,
    "functions.tokens.sequence_stats": _JOB + _PYTHON,
    "functions.lm.unigram_logprob": _JOB + _PYTHON,
    "functions.lm.ppl_band_filter": _JOB + _PYTHON,
    "functions.dedup.token_dedup_exact": _JOB,
    "sources.quarantine.write_quarantined": _WRITE,
    "plans.ledger.run": _WRITE,
}

UNITS = {
    "wall_s": "s", "executor_cpu_s": "s", "python_s": "s",
    "stages": "count", "scan_stages": "count", "joins": "count",
    "input_records": "count", "files_written": "count",
    "shuffle_write_bytes": "bytes", "python_bytes": "bytes", "bytes_written": "bytes",
}


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float = 0.0
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    plan_df: object = None
    counters: dict = field(default_factory=dict)

    def plan(self, df) -> None:
        """Read python_s, python_bytes and joins from this DataFrame's final
        plan once the run ends; ``df`` must be the one the action ran on."""
        self.plan_df = df

    def add(self, **counters) -> None:
        self.counters.update(counters)


class _Off:
    def plan(self, df) -> None:
        pass

    def add(self, **counters) -> None:
        pass


_OFF = _Off()


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._stack: list[Span] = []

    def _next_job(self) -> int:
        return self._sc._jsc.sc().dagScheduler().nextJobId()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield _OFF
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, len(self.spans), parent.span_id if parent else None, self.run_id)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobDescription(name)
        sp.job_lo = self._next_job()
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.job_hi = self._next_job()
            self._stack.pop()
            self._sc.setJobDescription(parent.name if parent else None)

    # -- read counters once the run is over ------------------------------------

    def finish(self) -> list[dict]:
        """Counters for every span, as plain records (name, start, end,
        parent, run id, wall_s, self_s and the Spark counters)."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        first_job = _stage_first_job(store, max((s.job_hi for s in self.spans), default=0))
        stage_cache: dict[int, dict] = {}
        child_wall: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_wall[sp.parent] = child_wall.get(sp.parent, 0.0) + sp.end - sp.start
        records = []
        for sp in self.spans:
            rec = {
                "name": sp.name, "span_id": sp.span_id, "parent": sp.parent,
                "run_id": sp.run_id, "start": sp.start, "end": sp.end,
                "wall_s": sp.end - sp.start,
                "self_s": sp.end - sp.start - child_wall.get(sp.span_id, 0.0),
            }
            sids = [s for s, j in first_job.items() if sp.job_lo <= j < sp.job_hi]
            rec.update(_stage_counters(store, sids, stage_cache))
            rec.update(_plan_counters(sp.plan_df))
            rec.update(sp.counters)
            records.append(rec)
        return records


def _stage_first_job(store, job_hi: int) -> dict[int, int]:
    """stage id -> the first job that contains it (the job that ran it)."""
    first: dict[int, int] = {}
    for jid in range(job_hi):
        try:
            ids = store.job(jid).stageIds()
        except Py4JJavaError:  # the job was never registered
            continue
        for i in range(ids.size()):
            first.setdefault(ids.apply(i), jid)
    return first


def _stage_counters(store, sids: list[int], cache: dict[int, dict]) -> dict:
    out = dict.fromkeys(
        ("stages", "scan_stages", "input_records", "input_bytes", "shuffle_write_bytes",
         "spill_bytes"), 0
    )
    out.update(executor_cpu_s=0.0, gc_s=0.0)
    for sid in sids:
        if sid not in cache:
            sd = store.lastStageAttempt(sid)
            cache[sid] = {
                "complete": sd.status().toString() == "COMPLETE",
                "input_records": sd.inputRecords(),
                "input_bytes": sd.inputBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "executor_cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
            }
        st = cache[sid]
        if not st["complete"]:
            continue  # skipped: its output was reused from an earlier stage
        out["stages"] += 1
        out["scan_stages"] += st["input_records"] > 0
        for k in ("input_records", "input_bytes", "shuffle_write_bytes", "spill_bytes",
                  "executor_cpu_s", "gc_s"):
            out[k] += st[k]
    return out


def _plan_counters(df) -> dict:
    """Joins and Python-boundary time and bytes in the final adaptive plan."""
    out = {"joins": 0, "python_s": 0.0, "python_bytes": 0}
    if df is None:
        return out
    root = df._jdf.queryExecution().executedPlan()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.executedPlan()
    todo = [root]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls.endswith("JoinExec") or cls == "CartesianProductExec":
            out["joins"] += 1
        metrics = node.metrics()
        if metrics.contains("pythonTotalTime"):
            out["python_s"] += metrics.apply("pythonTotalTime").value() / 1e3
            out["python_bytes"] += (metrics.apply("pythonDataSent").value()
                                    + metrics.apply("pythonDataReceived").value())
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def write_spans(records: list[dict], path: str) -> None:
    with open(path, "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")


def layer_metrics(records: list[dict]) -> dict[str, dict]:
    """Median of each reported counter over the spans of each layer."""
    out = {}
    for name, fields in LAYERS.items():
        recs = [r for r in records if r["name"] == name]
        if not recs:
            raise RuntimeError(f"traced run recorded no {name} span")
        for f in fields:
            out[f"{name}.{f}"] = {
                "value": statistics.median(r[f] for r in recs),
                "unit": UNITS[f],
            }
    return out
