"""Run one workload over several seeds and report each end-to-end
metric's median and spread (interquartile range ÷ median), the figures
the benchmark's bounds are judged on.

    python3 perfbench/spread.py search_filter 1 2 3 4 5 [--seconds 12]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import stats


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("seeds", type=int, nargs="+")
    ap.add_argument("--seconds", type=int, default=8)
    args = ap.parse_args()
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, run, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        got = {k: v["value"] for k, v in res["metrics"].items()}
        print(f"seed {seed}: {wall:.1f} s wall, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v:.4g}" for k, v in got.items()), flush=True)
        for k, v in got.items():
            values.setdefault(k, []).append(v)
    if len(args.seeds) >= 2:
        for k, vs in values.items():
            print(f"{k:18s} median {stats.median(vs):10.4g}  spread {stats.spread(vs):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
