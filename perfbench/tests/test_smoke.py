"""Smoke-size pass of every workload with all output checks on.

Run from the repository root (builds the program first; takes minutes):

    python3 -m unittest perfbench/tests/test_smoke.py
"""

import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, BENCH)
import metrics  # noqa: E402
import run  # noqa: E402


def bench(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        check=True, capture_output=True, text=True).stdout.splitlines()
    return out, json.loads(out[-1])


class SmokeTest(unittest.TestCase):
    def test_every_workload(self):
        for w in run.WORKLOADS:
            for trace, names in ((0, metrics.END_TO_END), (1, metrics.per_layer_names())):
                with self.subTest(workload=w, trace=trace):
                    report, res = bench(w, trace)
                    self.assertTrue(res["correct"], res)
                    self.assertEqual(res["failed"], 0)
                    self.assertGreater(res["attempted"], 0)
                    self.assertEqual(set(res["metrics"]), {n for n, _ in names})
                    if trace:
                        cover = [float(line.split()[-1]) for line in report
                                 if "self-time coverage" in line]
                        self.assertGreaterEqual(cover[0], 0.95)


if __name__ == "__main__":
    unittest.main()
