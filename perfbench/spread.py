#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over seeds.

    python3 perfbench/spread.py --workload bigseen_polite --seeds 101-110

Runs ``run.py --trace 0`` once per seed, one after another, keeps each
run's output under ``perfbench/.work/spread-<workload>/`` and prints, per
metric, the median over the runs and the quartile spread
``(Q3 - Q1) / median`` with Q1 and Q3 as ``statistics.quantiles(values,
n=4)`` gives them, next to the metric's bound from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median)."""
    from measure import quartiles

    q1, q2, q3 = quartiles(values)
    return q2, (q3 - q1) / q2


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_range, required=True, help="e.g. 101-110")
    ap.add_argument("--seconds", default="25")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    out_dir = os.path.join(HERE, ".work", f"spread-{args.workload}")
    os.makedirs(out_dir, exist_ok=True)
    values: dict[str, list[float]] = {}
    bad = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        with open(os.path.join(out_dir, f"s{seed}.out"), "w") as out:
            rc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                 "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
                cwd=ROOT, stdout=out, stderr=subprocess.DEVNULL,
            ).returncode
        with open(os.path.join(out_dir, f"s{seed}.out")) as fh:
            lines = fh.read().strip().splitlines()
        result = json.loads(lines[-1]) if rc == 0 and lines else None
        print(f"seed {seed}: exit {rc}, {time.perf_counter() - t0:.1f} s wall, "
              f"correct {result and result['correct']}", flush=True)
        if not result or not result["correct"]:
            bad.append(seed)
            continue
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{args.workload}: {len(args.seeds) - len(bad)} good runs, bad seeds {bad}")
    for k, v in values.items():
        med, sp = spread(v)
        print(f"  {k:16s} median {med:11.3f}  spread {sp:6.3f}  bound {bounds.get(k)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
