#!/usr/bin/env python3
"""Prints the per-layer table of every workload.

Run from the repository root:

    python3 perfbench/layers.py [--seed N]

Runs each workload once with --trace 1 and prints one row per span (self
time, Spark jobs, idle core share, shuffle write, spill, task skew) with a
column group per workload, then the loop, rate and run-level figures.
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
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    results = {}
    for w in run.WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
             "--workload", w, "--seed", str(args.seed), "--seconds", "1", "--trace", "1"],
            check=True, capture_output=True, text=True).stdout.splitlines()
        print("\n".join(line for line in out[:-1]
                        if line.startswith("perfbench") or "check" in line or "coverage" in line))
        results[w] = json.loads(out[-1])["metrics"]

    fields = [f for f, _ in metrics.SPAN_FIELDS]
    print(f"\n{'span':<20}" + "".join(f"| {w:<58}" for w in results))
    print(f"{'':<20}" + "".join("| " + "".join(f"{f[:9]:>10}" for f in fields)
                                for _ in results))
    for s in metrics.SPANS:
        print(f"{s:<20}" + "".join(
            "| " + "".join(f"{m[f'{s}.{f}']['value']:>10.3g}" for f in fields)
            for m in results.values()))
    print()
    for name, unit in metrics.EXTRAS:
        print(f"{name:<36} {unit:<9}" + "".join(
            f"{m[name]['value']:>14.4g}" for m in results.values()))


if __name__ == "__main__":
    main()
