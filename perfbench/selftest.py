"""Self-test of the benchmark on a tiny input.

    python3 perfbench/selftest.py

Runs every workload once with tracing off and once traced, each on a tiny
token table with a zero-second window (a single timed pass), and checks
that every metric BENCHMARK.json names is printed with its unit and a
positive value where one is required, that the traced run wrote a span
record with every field filled for every layer, and that no run leaves a
process behind in the checkout.  Exits 1 and lists the
problems if any check fails.
"""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import ALL, WORK  # noqa: E402
from tracing import LAYERS  # noqa: E402

ROWS = 2_000
SPAN_FIELDS = ("name", "start", "end", "run_id", "wall_s", "self_s")


def in_checkout() -> set[str]:
    """Processes whose working directory is the checkout, as "pid cmdline"."""
    out = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            if os.readlink(f"/proc/{name}/cwd") == ROOT:
                with open(f"/proc/{name}/cmdline", "rb") as f:
                    cmd = f.read().replace(b"\0", b" ").decode()
                out.add(f"{name} {cmd[:80]}")
        except OSError:
            pass
    return out


def bench(*args: str) -> tuple[int, list[str]]:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    os.makedirs(WORK, exist_ok=True)
    before = in_checkout()
    # stdout goes to a file, not a pipe, so that the check below runs as soon
    # as the run exits rather than once every holder of the pipe has closed it
    with tempfile.TemporaryFile("w+", dir=WORK) as out:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", *args], cwd=ROOT, env=env,
            stdout=out, stderr=subprocess.DEVNULL, timeout=600,
        )
        # a JVM or PySpark daemon the run failed to stop
        left = in_checkout() - before
        out.seek(0)
        lines = out.read().strip().splitlines()
    if left:
        print(f"FAIL {args}: left running: {sorted(left)}")
        return 1, []
    return proc.returncode, lines


def check_result(label: str, lines: list[str], wanted: list[dict], positive: bool) -> list[str]:
    res = json.loads(lines[-1])
    problems = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"{label}: result keys {sorted(res)}")
    if not (res["correct"] and res["attempted"] >= 1 and res["failed"] == 0):
        problems.append(f"{label}: correct={res['correct']} failed={res['failed']}"
                        f"/{res['attempted']}")
    got = res["metrics"]
    if sorted(got) != sorted(m["name"] for m in wanted):
        problems.append(f"{label}: metric names differ from BENCHMARK.json: "
                        f"{sorted(set(got) ^ {m['name'] for m in wanted})}")
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            continue
        if v["unit"] != m["unit"]:
            problems.append(f"{label}: {m['name']} unit {v['unit']} != {m['unit']}")
        ok = isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
        if not ok or (positive and v["value"] <= 0):
            problems.append(f"{label}: {m['name']} = {v['value']}")
    return problems


def check_spans(path: str) -> list[str]:
    with open(path) as f:
        records = [json.loads(line) for line in f]
    problems = []
    for name in LAYERS:
        if not any(r["name"] == name for r in records):
            problems.append(f"spans: no {name} span")
    for r in records:
        missing = [k for k in SPAN_FIELDS if r.get(k) is None]
        if missing or "parent" not in r:
            problems.append(f"spans: {r['name']} lacks {missing or ['parent']}")
        elif not (r["start"] <= r["end"] and -1e-6 <= r["self_s"] <= r["wall_s"] + 1e-6):
            problems.append(f"spans: {r['name']} times {r}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    common = ["--seed", "7", "--seconds", "0", "--rows", str(ROWS)]
    problems = []
    for workload in ALL:
        code, lines = bench("--workload", workload, "--trace", "0", *common)
        if code != 0 or not lines:
            problems.append(f"{workload}: exit {code}")
            continue
        problems += check_result(workload, lines, spec["end_to_end"], positive=True)

    before = set(glob.glob(os.path.join(WORK, "spans-*.jsonl")))
    code, lines = bench("--workload", ALL[0], "--trace", "1", *common)
    if code != 0 or not lines:
        problems.append(f"traced: exit {code}")
    else:
        problems += check_result("traced", lines, spec["per_layer"], positive=False)
        (spans,) = set(glob.glob(os.path.join(WORK, "spans-*.jsonl"))) - before
        problems += check_spans(spans)

    for p in problems:
        print(f"FAIL {p}")
    print("selftest: " + ("ok" if not problems else f"{len(problems)} problems"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
