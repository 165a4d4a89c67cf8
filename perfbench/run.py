"""Token-table benchmark for vldt_spark.

    python3 perfbench/run.py --workload validate_tokens --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the root of a checkout.  One process, one SparkSession on
``local[nproc]`` with ``nproc`` shuffle partitions.  The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Everything the
run writes (input cache, Spark scratch, spans, run records) stays under
``.perfbench/`` in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
ALL = ("validate_tokens", "ingest_tokens", "audit_tokens", "contract_tokens")

#: token-table rows.  On a 4-core host a warm pass takes about 3 s
#: (validate_tokens) to 7 s (audit_tokens); a seventh to a quarter of it
#: grows with the rows, the rest is Spark's per-job cost (see README.md)
ROWS = 20_000

#: the reference job's rows, and its samples before the timed window (one
#: more follows each timed pass)
REF_ROWS = 40_000_000
REF_SAMPLES = 3
#: the host speed end-to-end metrics are scaled to: the reference job's
#: wall seconds there.  On the 4-vCPU host the benchmark was written on it
#: took 0.3-0.8 s as that host's speed drifted
REF_WALL_S = 0.5


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=ALL + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=ROWS)
    return p.parse_args(argv)


def start_session(nproc: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.default.parallelism", str(nproc))
        .config("spark.driver.memory", "2g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        # no hsperfdata file in /tmp: every file the run writes stays in WORK
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def reference_job(spark, nproc: int):
    """A fixed, CPU-bound Spark job that runs no vldt_spark code: hash
    ``REF_ROWS`` longs and sum them in 1024 groups, on ``nproc`` partitions.
    Timed next to the passes, it tells how fast the host is right now."""
    from pyspark.sql import functions as F

    return (
        spark.range(0, REF_ROWS, 1, nproc)
        .groupBy((F.col("id") % 1024).alias("k"))
        .agg(F.sum(F.pmod(F.xxhash64("id"), F.lit(2**31))).alias("h"))
    )


class Window:
    """Timed passes of one workload, each traced by ``tracer``, and, with
    ``ref``, a run of the reference job it builds after each pass.  Each run
    needs a new DataFrame: a second ``collect()`` of the same one reuses its
    materialised shuffle."""

    def __init__(self, wl, tracer, ref=None):
        self.wl = wl
        self.tracer = tracer
        self.ref = ref
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.ref_walls: list[float] = []
        self.failed = 0

    def run(self, seconds: float) -> "Window":
        """Run passes back to back for ``seconds``, and at least one."""
        from proctree import tree_cpu_s

        wl, pid = self.wl, os.getpid()
        deadline = time.perf_counter() + seconds
        while True:
            wl.reset()
            c0, t0 = tree_cpu_s(pid), time.perf_counter()
            try:
                with self.tracer.span(f"pass.{wl.name}"):
                    out = wl.run(self.tracer)
            except Exception:
                out, problems = None, [traceback.format_exc()]
            t1, c1 = time.perf_counter(), tree_cpu_s(pid)
            self.walls.append(t1 - t0)
            self.cpus.append(c1 - c0)
            if out is not None:
                problems = wl.check(out)
            if problems:
                self.failed += 1
                log(f"[perfbench] {wl.name} pass {len(self.walls)} failed: {problems}")
            if self.ref is not None:
                self.sample_ref()
            if time.perf_counter() >= deadline:
                return self

    def sample_ref(self) -> None:
        t0 = time.perf_counter()
        self.ref().collect()
        self.ref_walls.append(time.perf_counter() - t0)

    def rows_per_s(self, rows: int) -> float:
        return rows / statistics.median(self.walls)


def set_up(wl, spark, inputs, tracer, off, warmups: int) -> list[str]:
    """Compile the model, build the workload's frames and run its untimed
    warm-up passes (never traced).  Returns the warm-up passes' problems."""
    from vldt_spark.engine import ValidationEngine
    from vldt_spark.flagship import TokenSequence

    # the model caches its compiled schema on the class; drop it so that
    # every set-up in a process compiles, as the first one does
    TokenSequence.__vldt_schema_cache__ = None
    with tracer.span("model.compile"):
        ValidationEngine(TokenSequence)
    wl.prepare(spark, inputs, WORK)
    problems = []
    for _ in range(warmups):
        wl.reset()
        problems += wl.check(wl.run(off))
    return problems


def untraced(wl, spark, inp, off, seconds: float, gen_s: float, nproc: int):
    """End-to-end metrics: the set-up, timed from process start without
    input generation, then the timed passes.  Both are scaled to a nominal
    host by the reference job's speed in this run, so that a host that is
    slower for the whole run, as a shared host often is for minutes at a
    time, reads the same; the unscaled figures, and the process tree's CPU
    per pass, are logged."""
    problems = set_up(wl, spark, inp, off, off, wl.warmups)
    setup_s = time.perf_counter() - T_PROCESS - gen_s
    win = Window(wl, off, lambda: reference_job(spark, nproc))
    win.ref().collect()  # its first run is cold
    for _ in range(REF_SAMPLES):
        win.sample_ref()
    win.run(seconds)
    slow = statistics.median(win.ref_walls) / REF_WALL_S
    raw = {
        "setup_s": setup_s,
        "rows_per_s": win.rows_per_s(inp.rows),
        "cpu_s_per_mrow": statistics.median(win.cpus) / (inp.rows / 1e6),
    }
    metrics = {
        "setup_s": {"value": raw["setup_s"] / slow, "unit": "s"},
        "rows_per_s": {"value": raw["rows_per_s"] * slow, "unit": "rows/s"},
    }
    info = {"pass_s": win.walls, "pass_cpu_s": win.cpus, "ref_s": win.ref_walls, "raw": raw}
    if hasattr(wl, "write_amp"):
        info["write_amp"] = wl.write_amp()
    return metrics, len(win.walls), win.failed, problems, info


def traced(wl, spark, inp, tracer, off, seconds: float, run_id: str):
    """Per-layer metrics: after one warm-up pass, untraced and traced passes
    of ``wl`` alternate for ``seconds`` in the order ABBA..., so that the
    rest of the warm-up trend falls on both alike; then one traced pass of
    every other workload and of the standalone checks, so that every
    layer's span is present.  Those passes are cold (no warm-up pass),
    which keeps a traced run within its time limit; their counts are those
    of a warm pass, their times are not."""
    from tracing import layer_metrics, write_spans
    from workloads import WORKLOADS, StandaloneChecks

    problems = set_up(wl, spark, inp, tracer, off, 1)
    plain, win = Window(wl, off), Window(wl, tracer)
    deadline = time.perf_counter() + seconds
    while True:
        for w in (plain, win) if len(plain.walls) % 2 == 0 else (win, plain):
            w.run(0)
        if time.perf_counter() >= deadline:
            break
    attempted, failed = len(plain.walls) + len(win.walls), plain.failed + win.failed
    everyone = [wl] + [W() for n, W in WORKLOADS.items() if n != wl.name]
    for other in everyone[1:] + [StandaloneChecks()]:
        problems += set_up(other, spark, inp, tracer, off, 0)
        w = Window(other, tracer).run(0)
        attempted, failed = attempted + len(w.walls), failed + w.failed
    (ingest,) = [w for w in everyone if hasattr(w, "write_amp")]
    records = tracer.finish()
    write_spans(records, os.path.join(WORK, f"spans-{run_id}.jsonl"))
    metrics = layer_metrics(records)
    metrics["trace.overhead_rows_per_s"] = {
        "value": win.rows_per_s(inp.rows) - plain.rows_per_s(inp.rows), "unit": "rows/s"
    }
    metrics["ingest.write_amp"] = {"value": ingest.write_amp(), "unit": "ratio"}
    metrics["process.cpu_s_per_mrow"] = {
        "value": statistics.median(plain.cpus) / (inp.rows / 1e6), "unit": "s/Mrow"
    }
    info = {"pass_s": win.walls, "untraced_pass_s": plain.walls, "spans": len(records)}
    return metrics, attempted, failed, problems, info


def run_one(args) -> dict:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    try:
        import vldt_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: vldt_spark is not importable from {ROOT}: {e}")

    import inputs as inputs_mod
    from proctree import PeakRss, loadavg
    from tracing import Tracer
    from workloads import WORKLOADS

    run_id = uuid.uuid4().hex[:12]
    load_start = loadavg()
    nproc = len(os.sched_getaffinity(0))
    with PeakRss(os.getpid()) as rss:
        spark = start_session(nproc)
        try:
            boot_s = time.perf_counter() - T_PROCESS
            inp, gen_s = inputs_mod.ensure(
                spark, os.path.join(WORK, "cache"), args.seed, args.rows,
                shifted=bool(args.trace) or WORKLOADS[args.workload].needs_shifted,
            )
            off = Tracer(spark, run_id, enabled=False)
            wl = WORKLOADS[args.workload]()
            if args.trace:
                tracer = Tracer(spark, run_id, enabled=True)
                metrics, attempted, failed, problems, info = traced(
                    wl, spark, inp, tracer, off, args.seconds, run_id
                )
            else:
                metrics, attempted, failed, problems, info = untraced(
                    wl, spark, inp, off, args.seconds, gen_s, nproc
                )
        finally:
            spark.stop()
    if problems:
        failed += 1
        log(f"[perfbench] warm-up pass failed: {problems}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "rows": inp.rows, "trace": args.trace, "seconds": args.seconds, "nproc": nproc,
        "loadavg_start": load_start, "loadavg_end": loadavg(), "boot_s": boot_s,
        "gen_s": gen_s, "peak_rss_mib": rss.peak_mib(),
        "run_wall_s": time.perf_counter() - T_PROCESS, **info,
        "result": result,
    }
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    log(f"[perfbench] {args.workload} seed={args.seed} rows={inp.rows} trace={args.trace} "
        f"loadavg {load_start} -> {record['loadavg_end']} boot={boot_s:.2f}s "
        f"gen={gen_s:.2f}s peak_rss={record['peak_rss_mib']:.0f}MiB "
        f"error_rate={failed}/{attempted}")
    for name, m in metrics.items():
        log(f"[perfbench]   {name:<52} {m['value']:>14.4f} {m['unit']}")
    for name, value in info.get("raw", {}).items():
        log(f"[perfbench]   {'unscaled ' + name:<52} {value:>14.4f}")
    if "write_amp" in info:
        log(f"[perfbench]   {'write_amp':<52} {info['write_amp']:>14.4f} ratio")
    return result


def run_all(args) -> dict:
    """Every workload in its own process, as separate benchmark runs."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in ALL:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--rows", str(args.rows)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        if proc.returncode != 0:
            raise SystemExit(f"perfbench: {name} exited with {proc.returncode}")
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, m in res["metrics"].items():
            total["metrics"][f"{name}.{k}"] = m
    return total


def stop_jvm() -> None:
    """End the JVM.  ``spark.stop()`` leaves it running until it sees EOF on
    its stdin, which would otherwise come only when this process exits."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    from proctree import become_subreaper, end_tree

    args = parse_args(argv)
    # every path out, SIGTERM included, stops the processes this one started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    try:
        result = run_all(args) if args.workload == "all" else run_one(args)
    finally:
        stop_jvm()
        end_tree(os.getpid())
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
