"""Self-tests of the benchmark's statistics and trace arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import metrics  # noqa: E402
from stats import median, percentile, quartile_spread, ratio, union_length  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(percentile(xs, 0), 1.0)
        self.assertEqual(percentile(xs, 100), 4.0)
        self.assertAlmostEqual(percentile(xs, 50), 2.5)
        self.assertAlmostEqual(percentile(xs, 90), 3.7)

    def test_single_and_empty(self):
        self.assertEqual(percentile([7.0], 90), 7.0)
        self.assertIsNone(percentile([], 50))

    def test_median_matches_statistics(self):
        for xs in ([3, 1, 2], [5, 1, 4, 2], [1.5, 1.5, 9.0, 0.5, 2.0]):
            self.assertAlmostEqual(median(xs), statistics.median(xs))

    def test_rejects_out_of_range(self):
        with self.assertRaises(ValueError):
            percentile([1.0], 101)


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clip(self):
        self.assertEqual(union_length([(0, 10), (20, 30)], clip=(5, 25)), 10)
        self.assertEqual(union_length([(0, 4)], clip=(5, 9)), 0)

    def test_empty(self):
        self.assertEqual(union_length([]), 0)


class RatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(ratio(6, 3), 2)
        self.assertEqual(ratio(5, 0), 0.0)
        self.assertEqual(ratio(5, None), 0.0)

    def test_quartile_spread(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(quartile_spread(xs), (q3 - q1) / q2)


class TraceTest(unittest.TestCase):
    """A request with two root spans, one nested span and three jobs."""

    TRACE = {
        "spans": [
            {"id": 1, "parent": 0, "req": 1, "name": "operators.Dedup.ingest",
             "t0": 1000.0, "t1": 2000.0, "attrs": {}},
            {"id": 2, "parent": 1, "req": 1, "name": "inner",
             "t0": 1100.0, "t1": 1200.0, "attrs": {}},
            {"id": 3, "parent": 0, "req": 1, "name": "operators.Dedup.probe",
             "t0": 2000.0, "t1": 2500.0, "attrs": {}},
        ],
        "jobs": [
            {"id": 0, "span": 1, "t0": 1000.0, "t1": 1300.0},
            {"id": 1, "span": 2, "t0": 1200.0, "t1": 1400.0},
            {"id": 2, "span": 3, "t0": 2100.0, "t1": 2200.0},
        ],
        "stages": [
            {"id": 0, "attempt": 0, "span": 2, "scan": False, "tasks": 4, "run_ms": 600,
             "cpu_ns": 0, "gc_ms": 0, "delay_ms": 0, "in_bytes": 50, "in_records": 5,
             "sh_read_bytes": 0, "sh_write_bytes": 0, "spill_bytes": 0},
            {"id": 1, "attempt": 0, "span": 3, "scan": True, "tasks": 1, "run_ms": 200,
             "cpu_ns": 0, "gc_ms": 0, "delay_ms": 0, "in_bytes": 300, "in_records": 30,
             "sh_read_bytes": 0, "sh_write_bytes": 0, "spill_bytes": 0},
        ],
        "queries": [{"t_ms": 1150.0, "plan_ms": 7.0, "broadcast_build_ms": 0.0,
                     "mem_scan_rows": 0.0}],
    }

    def test_attribution(self):
        t = metrics.Trace(self.TRACE)
        self.assertEqual(t.root[2], 1)
        self.assertEqual(len(t.jobs[1]), 2)
        self.assertEqual(t.jobs_per_call("operators.Dedup.ingest"), 1)
        self.assertEqual(t.query_span[0][0], 2)

    def test_driver_only(self):
        t = metrics.Trace(self.TRACE)
        roots = {r["id"]: r for r in t.roots()}
        # ingest: 1000 ms wall, jobs cover 1000..1400
        self.assertEqual(metrics.driver_only_ms(roots[1], t.jobs[1]), 600.0)
        self.assertEqual(metrics.driver_only_ms(roots[3], t.jobs[3]), 400.0)

    def test_per_layer_over_a_run(self):
        raw = {"trace": self.TRACE, "settings": {"master": "local[4]"},
               "counters": {}, "info": {}, "samples": {"main": [1.0]},
               "traced_samples": {"main": [1.5]}}
        m = metrics.per_layer(raw)
        self.assertEqual(set(m), {k for k, _ in metrics.PER_LAYER})
        self.assertAlmostEqual(m["spark.driver.only_s"]["value"], 1.0)
        self.assertEqual(m["spark.sched.jobs"]["value"], 3)
        # 800 ms of task time over 1500 ms of span time on 4 cores
        self.assertAlmostEqual(m["spark.exec.busy_frac"]["value"], 800 / 6000)
        self.assertAlmostEqual(m["trace.overhead_ms"]["value"], 500.0)
        self.assertEqual(m["spark.driver.plan_ms"]["value"], 7.0)
        # only the stage that reads files counts as CSV read
        self.assertAlmostEqual(m["sources.csv_read_s"]["value"], 0.2)
        self.assertEqual(m["sources.scan_bytes"]["value"], 300)
        self.assertEqual(m["sources.scan_rows"]["value"], 30)


if __name__ == "__main__":
    unittest.main()
