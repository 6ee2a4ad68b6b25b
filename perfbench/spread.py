#!/usr/bin/env python3
"""Runs the benchmark once per seed and prints each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median).

Run from the repository root:

    python3 perfbench/spread.py --workload linkgraph --seeds 1 2 3 4 5
"""

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    values = {}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
             "--workload", args.workload, "--seed", str(seed), "--seconds", "1",
             "--trace", "0"], check=True, capture_output=True, text=True).stdout
        res = json.loads(out.splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()), flush=True)
        for n, m in res["metrics"].items():
            values.setdefault(n, []).append(m["value"])
    if len(args.seeds) >= 2:
        for n, xs in values.items():
            print(f"{n}: median {metrics.median(xs):.4g} "
                  f"spread {metrics.quartile_spread(xs):.4f} over {len(xs)} seeds")


if __name__ == "__main__":
    main()
