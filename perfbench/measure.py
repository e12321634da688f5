"""Pure reductions and process-tree resource probes.

CPU and RSS are read from ``/proc`` for the whole process tree rooted at
the benchmark's own process: the Python driver, the JVM it launched and
the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def median(values):
    return statistics.median(values)


def quartiles(values) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is all three."""
    if len(values) < 2:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _stat(pid: str):
    """(ppid, cpu ticks incl. reaped children, rss pages) of one process."""
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # comm may contain spaces: fields after the closing paren are fixed
    f = raw[raw.rindex(")") + 2:].split()
    return int(f[1]), sum(int(x) for x in f[11:15]), int(f[21])


def tree_usage(root: int | None = None) -> tuple[float, int]:
    """(CPU seconds, RSS bytes) summed over ``root`` and its descendants.

    CPU counts user+system time of live processes plus what their
    reaped children used, so a worker that exits mid-run is not lost."""
    root = root if root is not None else os.getpid()
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                procs[int(pid)] = _stat(pid)
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                continue
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    cpu = rss = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            cpu += procs[pid][1]
            rss += procs[pid][2]
        stack.extend(children.get(pid, ()))
    return cpu / _TICK, rss * _PAGE


class PeakRss:
    """Samples process-tree RSS on a background thread; ``peak`` is the
    largest sample between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_usage()[1])
            self._stop.wait(self.interval)

    def __enter__(self):
        self.peak = tree_usage()[1]
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_usage()[1])
        return False


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Timer:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        return False
