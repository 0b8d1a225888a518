#!/usr/bin/env python3
"""Run one workload for several seeds and print, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) as a share of the median,
next to the metric's bound in BENCHMARK.json, and each run's wall time
(a check of a workload makes 22 runs). Each run's stderr report is kept
in .perfbench/spread-<workload>-<seed>.log.

    python3 perfbench/spread.py --workload batch --seeds 1-5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in seeds_of(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=600)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        out = json.loads(last)
        log = os.path.join(ROOT, ".perfbench",
                           f"spread-{args.workload}-{seed}.log")
        with open(log, "w") as fh:
            fh.write(proc.stderr)
        print(f"seed {seed}: wall={time.perf_counter() - t0:.1f}s "
              f"correct={out['correct']} "
              f"attempted={out['attempted']} failed={out['failed']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in out["metrics"].items()), flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vs in values.items():
        s = spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k:24s} median {statistics.median(vs):12.5g}  "
              f"spread {s:6.3f}  bound {bounds.get(k, float('nan')):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
