"""In-memory spans and a Spark event-log reader for the traced run.

A span is (name, start, end, parent, run) with wall-clock epoch seconds,
the clock Spark's event log uses, so job intervals from the log and
spans recorded here line up.  Spans stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run: str):
        self.run = run
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str):
        sid = self.add(name, time.time(), float("nan"))
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the part its direct children cover."""
    kids = [
        (max(k["start"], span["start"]), min(k["end"], span["end"]))
        for k in spans
        if k["parent"] == span["id"]
    ]
    return (span["end"] - span["start"]) - union_length(
        [(s, e) for s, e in kids if e > s]
    )


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------

def read_event_log(lines) -> dict:
    """Jobs and tasks from Spark event-log JSON lines.

    jobs:  {id: {"start", "end", "stages", "callsite"}}  (seconds)
    tasks: [{"stage", "start", "end", "gc", "shuffle_write", "spill"}]
    """
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            # the job's own (result) stage is named after the action's
            # call site, e.g. "count at NativeMethodAccessorImpl.java:0"
            infos = e.get("Stage Infos") or [{}]
            result = max(infos, key=lambda i: i.get("Stage ID", -1))
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": e.get("Stage IDs", []),
                "callsite": result.get("Stage Name", ""),
            }
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info", {})
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": e["Stage ID"],
                    "start": info["Launch Time"] / 1000.0,
                    "end": info["Finish Time"] / 1000.0,
                    "gc": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
    return {"jobs": jobs, "tasks": tasks}


def load_event_log(log_dir: str) -> dict:
    """Read every (uncompressed) event-log file under ``log_dir``."""
    lines: list[str] = []
    for d, _, files in os.walk(log_dir):
        for f in sorted(files):
            with open(os.path.join(d, f)) as fh:
                lines.extend(fh)
    return read_event_log(lines)


def window_summary(log: dict, start: float, end: float, cores: int) -> dict:
    """The jobs submitted in [start, end] and figures from their tasks.

    jobs: [(job id, start, end)]; task_busy_ratio: task time over
    ``cores`` x window; max_task_over_median: the largest max/median
    task-time ratio over stages with at least ``cores`` tasks (the
    straggler a hot key produces)."""
    jobs = sorted(
        (jid, j["start"], j["end"]) for jid, j in log["jobs"].items()
        if j["end"] is not None and start <= j["start"] <= end
    )
    stages = {s for jid, _, _ in jobs for s in log["jobs"][jid]["stages"]}
    tasks = [t for t in log["tasks"] if t["stage"] in stages]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
    ratios = [
        max(v) / max(statistics.median(v), 1e-3)
        for v in by_stage.values() if len(v) >= cores
    ]
    return {
        "jobs": jobs,
        "task_busy_ratio": sum(t["end"] - t["start"] for t in tasks)
        / (cores * max(end - start, 1e-9)),
        "gc_s": sum(t["gc"] for t in tasks),
        "shuffle_mb": sum(t["shuffle_write"] for t in tasks) / 2**20,
        "spill_mb": sum(t["spill"] for t in tasks) / 2**20,
        "max_task_over_median": max(ratios, default=1.0),
    }
