"""CPU and RSS of a process tree, read from /proc, and its orderly end.

The benchmark's process tree is the driver Python process, the JVM it
launches, and the PySpark daemon and workers the JVM forks.  Spark's own
``executorCpuTime`` misses the Python workers and ``getrusage`` never sees
the JVM (it is not reaped while the driver runs), so both are read here
from ``/proc/<pid>/stat`` and ``/proc/<pid>/status`` instead.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def _stat_fields(pid: int) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    return data[data.rindex(b")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (``cutime``/``cstime``), so a worker that exits between two readings
    still counts through its parent."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def become_subreaper() -> None:
    """Adopt orphaned descendants.  When the JVM exits, the PySpark daemon
    it forked is re-parented to this process rather than to init, so it
    stays in the tree and ``end_tree`` waits for it too."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect every child that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_tree(root: int, grace_s: float = 20.0) -> None:
    """Return once every descendant of ``root`` has exited and been reaped.
    Descendants still alive after ``grace_s`` get SIGTERM, and SIGKILL after
    another ``grace_s``."""
    start = time.monotonic()
    sent = None
    while True:
        _reap()
        rest = [p for p in tree_pids(root) if p != root]
        if not rest:
            return
        waited = time.monotonic() - start
        sig = signal.SIGKILL if waited > 2 * grace_s else (
            signal.SIGTERM if waited > grace_s else None)
        if sig is not None and sig != sent:
            for pid in rest:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class PeakRss:
    """Samples the tree's per-process peak RSS (``VmHWM``) on a thread.

    The reported peak is the sum over every process seen of its own peak,
    so a worker that lived only between two samples is missed but one that
    was sampled once keeps its peak after it exits."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self._root = root
        self._interval = interval_s
        self._peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        for pid in tree_pids(self._root):
            kb = _hwm_kb(pid)
            if kb > self._peak_kb.get(pid, 0):
                self._peak_kb[pid] = kb

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def peak_mib(self) -> float:
        return sum(self._peak_kb.values()) / 1024.0
