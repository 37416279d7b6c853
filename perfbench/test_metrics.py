#!/usr/bin/env python3
"""Self-tests of the benchmark's own arithmetic (metrics.py).

    python3 perfbench/test_metrics.py
"""

import unittest

import metrics


def op(kind, group, start_ms, end_ms, wall_s, ok=True, round_=1, extra=None):
    return {"kind": kind, "group": group, "round": round_, "label": "", "start_ms": start_ms,
            "end_ms": end_ms, "wall_s": wall_s, "ok": ok, "error": "", "rows": 0,
            "lower_s": 0.0, "load": 1.0, "cpu_util": 0.5, "extra": extra or {}}


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # [1,5] (two overlapping jobs), [7,8], and [9,12] clipped to [9,10]
        jobs = [(1, 3), (2, 5), (7, 8), (9, 12)]
        self.assertEqual(metrics.covered(jobs, 0, 10), 6)
        self.assertEqual(metrics.self_time(0, 10, jobs), 4)

    def test_no_children_is_all_self(self):
        self.assertEqual(metrics.self_time(2, 5, []), 3)

    def test_children_outside_the_span_are_ignored(self):
        self.assertEqual(metrics.self_time(10, 20, [(0, 5), (25, 30)]), 10)

    def test_self_plus_job_time_is_the_wall(self):
        rec = {"ops": [op("algos.wcc", "op-1", 1000, 3000, 2.0)],
               "jobs": [{"id": 0, "group": "op-1", "start_ms": 1200, "end_ms": 1700},
                        {"id": 1, "group": "op-1", "start_ms": 1500, "end_ms": 2500},
                        {"id": 2, "group": "check", "start_ms": 3000, "end_ms": 3100}],
               "stages": [{"id": 0, "attempt": 0, "job": 1, "tasks": 4, "cpu_s": 0.5,
                           "sched_wait_s": 0.1, "shuffle_write_bytes": 2 * 1024 * 1024,
                           "spill_bytes": 0, "gc_s": 0.01}]}
        (c,) = metrics.op_costs(rec)
        self.assertAlmostEqual(c["driver_s"], 0.7)
        self.assertEqual(c["jobs"], 2)
        self.assertEqual(c["tasks"], 4)
        self.assertEqual(c["shuffle_write_mb"], 2.0)


class FailRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(metrics.fail_ratio(0, 5), 0.0)
        self.assertEqual(metrics.fail_ratio(2, 8), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.fail_ratio(0, 0)

    def test_failed_checks_count(self):
        rec = {"ops": [op("gie.hop1", "op-1", 0, 10, 0.01),
                       op("gie.hop2", "op-2", 10, 20, 0.01, ok=False)],
               "jobs": [], "stages": [], "setup_s": [1.0], "peak_rss_mb": 100.0}
        self.assertEqual(metrics.per_layer(rec)["fail_ratio"], 0.5)


class BoundTest(unittest.TestCase):
    SPEC = [{"name": "op_gmean_ms", "better": "lower", "bound": 0.15},
            {"name": "ops_per_s", "better": "higher", "bound": 0.15}]

    def test_spread_is_iqr_over_median(self):
        self.assertEqual(metrics.spread([1, 2, 3, 4, 5]), 1.0)

    def test_worse_by_respects_direction(self):
        self.assertAlmostEqual(metrics.worse_by(100, 120, "lower"), 0.2)
        self.assertAlmostEqual(metrics.worse_by(10, 9, "higher"), 0.1)
        self.assertLess(metrics.worse_by(10, 12, "higher"), 0)

    def test_regressions_beyond_bound_only(self):
        first = {"op_gmean_ms": [100, 100, 100], "ops_per_s": [10, 10, 10]}
        second = {"op_gmean_ms": [120, 118, 121], "ops_per_s": [9, 9, 9]}
        self.assertEqual([n for n, _ in metrics.regressions(first, second, self.SPEC)],
                         ["op_gmean_ms"])
        self.assertEqual(metrics.regressions(first, first, self.SPEC), [])


class RecordTest(unittest.TestCase):
    def test_end_to_end_and_idle_layers(self):
        steps = {"supersteps": 4, "superstep_s": [1.0, 0.5, 0.5, 0.25],
                 "superstep_edges": [100, 100, 100, 100]}
        rec = {"ops": [op("algos.pagerank", "op-1", 0, 2000, 2.0, extra=steps),
                       op("algos.wcc", "op-2", 2000, 3000, 1.0, extra={
                           "supersteps": 2, "superstep_s": [0.4, 0.4], "superstep_edges": [5, 5]})],
               "jobs": [], "stages": [], "setup_s": [3.0, 1.0, 2.0], "peak_rss_mb": 512.0}
        e2e = metrics.end_to_end(rec)
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertAlmostEqual(e2e["ops_per_s"], 2 / 3.0)
        self.assertAlmostEqual(e2e["op_gmean_ms"], (2000.0 * 1000.0) ** 0.5)
        layers = metrics.per_layer(rec)
        self.assertEqual(layers["algos.pagerank.eps"], 300.0)  # median of 200, 400
        self.assertEqual(layers["algos.wcc.supersteps"], 2)
        self.assertEqual(layers["graph.derive.wall_s"], 0.0)
        self.assertEqual(layers["gie.hop1.jobs"], 0.0)
        self.assertEqual(layers["trace.setup_s"], 2.0)


if __name__ == "__main__":
    unittest.main()
