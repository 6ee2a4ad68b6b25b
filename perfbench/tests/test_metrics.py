"""Unit tests of the benchmark's metric reductions.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402

S = 1_000_000_000  # ns per second


def span(i, parent, name, start, end, rep=1):
    return {"rep": rep, "id": i, "parent": parent, "name": name,
            "start_ns": start * S, "end_ns": end * S}


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(metrics.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(metrics.median([]), 0.0)

    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.0, 12.0, 10.5, 9.5, 10.2, 10.8, 11.5, 9.8]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.quartile_spread(xs), (q3 - q1) / q2)
        # exclusive-method quartiles of 1..8: 2.25, 4.5, 6.75
        self.assertAlmostEqual(metrics.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8]),
                               (6.75 - 2.25) / 4.5)


class SelfTimeTest(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(metrics.union_length([(1, 4), (3, 6), (8, 9)]), 6)
        self.assertEqual(metrics.union_length([]), 0)

    def test_nested_spans(self):
        spans = [
            span(0, -1, "job", 0, 10),
            span(1, 0, "a", 1, 4),
            span(2, 0, "b", 3, 6),   # overlaps a: the parent loses 5 s, not 6
            span(3, 1, "a.inner", 2, 3),
        ]
        got = metrics.self_times(spans)
        self.assertAlmostEqual(got[0], 5.0)
        self.assertAlmostEqual(got[1], 2.0)
        self.assertAlmostEqual(got[2], 3.0)
        self.assertAlmostEqual(got[3], 1.0)

    def test_child_outside_parent_is_clipped(self):
        got = metrics.self_times([span(0, -1, "job", 0, 4), span(1, 0, "x", 3, 9)])
        self.assertAlmostEqual(got[0], 3.0)


class LayerMetricsTest(unittest.TestCase):
    def test_traced_run(self):
        spans = [span(0, -1, "job", 0, 10), span(1, 0, "derive", 0, 4),
                 span(2, 0, "sink", 4, 9.5)]
        tasks = [{"rep": 1, "span": 1, "stage": 7, "dur_ms": d, "run_ms": d,
                  "shuffle_write_b": 2_000_000, "spill_b": 0, "gc_ms": 10,
                  "failed": False} for d in (1000, 1000, 3000)]
        jobs = [{"rep": 1, "span": 1, "job": 0}, {"rep": 1, "span": 2, "job": 1}]
        result = {"trace_cost_s": 0.1, "peak_rss_mb": 1500.0, "reps": [
            {"rep": 1, "kind": "timed", "traced": True, "job_s": 10.0,
             "stats": {"pagerank.rounds": 21.0, "cf.svdpp_train.sweep_s": 3.0}},
            {"rep": 2, "kind": "warm", "traced": False, "job_s": 8.0, "stats": {}},
            {"rep": 3, "kind": "one_core", "traced": False, "job_s": 20.0, "stats": {}}]}
        got = metrics.layer_metrics(result, spans, tasks, jobs)
        self.assertEqual({n for n, _ in metrics.per_layer_names()} - set(got), set())
        self.assertAlmostEqual(got["derive.self_s"], 4.0)
        self.assertEqual(got["derive.jobs"], 1)
        self.assertAlmostEqual(got["derive.core_idle_frac"], 1 - 5.0 / 16.0)
        self.assertAlmostEqual(got["derive.shuffle_write_mb"], 6.0)
        self.assertAlmostEqual(got["derive.task_skew"], 3.0)
        self.assertEqual(got["kcores.self_s"], 0.0)
        self.assertEqual(got["pagerank.superstep.rounds"], 21.0)
        self.assertEqual(got["cf.svdpp_train.sweep_s"], 3.0)
        self.assertEqual(got["frap.monitor.graphs_per_s"], 0.0)
        self.assertAlmostEqual(got["spark.gc_s"], 0.03)
        self.assertEqual(got["jvm.peak_rss_mb"], 1500.0)
        self.assertAlmostEqual(got["trace.overhead_frac"], 0.01)
        self.assertAlmostEqual(got["linkgraph.speedup_1to4"], 2.5)
        self.assertAlmostEqual(got["coverage"], 0.95)

    def test_end_to_end(self):
        result = {"jvm_start_s": 0.5, "session_s": 4.0, "gen_s": [9.0, 2.0, 1.0],
                  "peak_rss_mb": 1500.0, "reps": [
                      {"rep": 0, "kind": "timed", "traced": False, "job_s": 30.0,
                       "alloc_mb": 9000.0}]}
        self.assertEqual(metrics.end_to_end(result),
                         {"job_s": 30.0, "setup_s": 6.5, "alloc_mb": 9000.0})


if __name__ == "__main__":
    unittest.main()
