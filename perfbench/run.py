#!/usr/bin/env python3
"""crawlspark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bigseen_polite --seed 1 --seconds 25 --trace 0

Closed loop, batch: one client in this driver process on ``local[nproc]``
sets up, then times one unit (one crawl, or one pass of the content
pipeline) and checks its outputs.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` makes an untraced run of the same seed in a
child process, then times a traced unit in a session with the event log
on, and prints the per-layer metrics (see layers.py).  The last stdout line is the JSON result; see
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def driver_heap() -> str:
    """An eighth of physical RAM, clamped to [1, 2] GiB."""
    with open("/proc/meminfo") as fh:
        kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(2048, kb // 8192))}m"


def start_session(event_log_dir: str | None = None):
    """``local[nproc]``, nproc shuffle partitions, explicit driver heap,
    local dirs inside the benchmark's work dir, no UI; the event log only
    when ``event_log_dir`` is given (the traced session)."""
    from crawlspark.session import get_spark
    from workloads import cores

    n = cores()
    conf = {
        "spark.driver.memory": driver_heap(),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("crawlspark-bench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM this process launched and wait for it: the gateway
    server exits when its stdin closes (its Python workers with it)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def end_to_end(u, setup_s: float) -> dict:
    vals = {
        "setup_s": (setup_s, "s"),
        "run_s": (u.run_s, "s"),
        "items_per_s": (u.items / u.run_s, "item/s"),
        "cpu_s_per_kitem": (1000 * u.cpu_s / u.items, "s"),
        "peak_rss_mb": (u.peak_rss / 2**20, "MiB"),
    }
    return {k: {"value": v, "unit": unit} for k, (v, unit) in vals.items()}


def set_up(wl, session_s: float) -> float:
    """Set-up, repeated: ``setup_s`` is the session start plus the median
    input load/persist repetition plus the workload's warm-up."""
    from measure import Timer, median

    prep = []
    for _ in range(SETUP_REPS):
        with Timer() as t:
            wl.prepare()
        prep.append(t.s)
    with Timer() as warm:
        wl.warmup()
    print(f"setup: session {session_s:.2f}s, inputs+persist "
          f"{[round(p, 2) for p in prep]}, warm-up {warm.s:.2f}s", flush=True)
    return session_s + median(prep) + warm.s


def main(argv=None) -> int:
    from workloads import WORK, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25,
                    help="accepted for the benchmark contract; a run times one "
                         "unit, which is sized to take about this long")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="bigseen_polite: also run the bloom-off crawl of the "
                         "same inputs and pin its outcome for this seed")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    os.makedirs(WORK, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, f"spark-local-{os.getpid()}")
    # the JVM's Python workers import the package and this directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT]
    import crawlspark  # noqa: F401  (fails fast outside a full checkout)

    if args.trace:
        from layers import traced_run

        return traced_run(args)
    wl = WORKLOADS[args.workload](start_session(), args.seed)
    session_s = time.perf_counter() - t_start
    units, errs, metrics = [], [], {}
    try:
        setup_s = set_up(wl, session_s)
        try:
            units.append(wl.unit())
        except Exception:  # a unit that raises is a failed attempt
            traceback.print_exc()
        if units:
            errs = wl.check(units[0])
            metrics = end_to_end(units[0], setup_s)
        if args.pin:
            print("pinned:", json.dumps(wl.pin()), flush=True)
    finally:
        shutdown(wl, units)
    return report(errs, int(not units or bool(errs)), 1, metrics)


def shutdown(wl, units) -> None:
    """Stop Spark and the JVM, and delete the run's checkpoints."""
    from workloads import WORK

    wl.close()
    wl.spark.stop()
    stop_jvm()
    for u in units:
        wl.discard(u)
    shutil.rmtree(os.environ["SPARK_LOCAL_DIRS"], ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, f"scratch-{os.getpid()}"), ignore_errors=True)


def report(errs, failed: int, attempted: int, metrics: dict) -> int:
    for e in errs:
        print(f"CHECK FAILED: {e}", flush=True)
    print(f"failed_ratio: {failed}/{attempted}", flush=True)
    if not metrics:
        return 1
    print(json.dumps({
        "correct": not errs and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
