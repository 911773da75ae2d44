"""Self-tests of the benchmark's own arithmetic. run.py runs them before
every run; alone: python3 -m unittest perfbench/test_stats.py"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p95_needs_200_samples(self):
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertLess(stats.tail_percentile(199), 95.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(10))

    def test_tail_leaves_ten_samples_beyond(self):
        samples = list(range(1, 201))
        p, v = stats.tail(samples)
        self.assertEqual((p, v), (95.0, 190))
        self.assertEqual(sum(1 for s in samples if s > v), 10)
        self.assertEqual(stats.nearest_rank(samples, 95), v)

    def test_median_is_an_observed_sample(self):
        self.assertEqual(stats.nearest_rank([5, 1, 3, 2], 50), 2)
        self.assertEqual(stats.nearest_rank([7], 50), 7)


class FailedOperations(unittest.TestCase):
    def ops(self, ok, failed):
        return ([{"kind": "q", "t0Ms": 0.0, "t1Ms": 1.0, "error": None}] * ok +
                [{"kind": "q", "t0Ms": 0.0, "t1Ms": 0.5, "error": "boom"}] * failed)

    def test_failure_counts_beyond_every_percentile(self):
        samples = stats.op_samples(self.ops(199, 1), "q", 1.0)
        self.assertEqual(len(samples), 200)  # attempted, not dropped
        self.assertEqual(max(samples), math.inf)  # slower than any success
        self.assertEqual(stats.tail(samples)[1], 1.0)

    def test_enough_failures_move_the_tail(self):
        samples = stats.op_samples(self.ops(189, 11), "q", 1.0)
        self.assertEqual(stats.tail(samples)[1], math.inf)
        self.assertEqual(stats.nearest_rank(stats.op_samples(self.ops(9, 11), "q", 1.0), 50),
                         math.inf)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(10, 30), (20, 40), (50, 60), (55, 58)]), 40)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        self.assertEqual(stats.driver_gap((0, 100), [(10, 30), (20, 40), (50, 60)]), 60)
        # jobs reaching outside the operation count only inside it
        self.assertEqual(stats.driver_gap((0, 100), [(-5, 10), (90, 120)]), 80)
        self.assertEqual(stats.driver_gap((0, 100), []), 100)

    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            {"id": 1, "parent": 0, "t0Ms": 0, "t1Ms": 100},
            {"id": 2, "parent": 1, "t0Ms": 10, "t1Ms": 30},
            {"id": 3, "parent": 1, "t0Ms": 20, "t1Ms": 50},
            {"id": 4, "parent": 3, "t0Ms": 25, "t1Ms": 45},
        ]
        self.assertEqual(stats.self_times(spans), {1: 60, 2: 20, 3: 10, 4: 20})


class EndToEnd(unittest.TestCase):
    def test_batches_group_by_name_prefix(self):
        def op(kind, name, ms, error=None):
            return {"kind": kind, "name": name, "t0Ms": 0.0, "t1Ms": ms, "error": error}
        ops = ([op("ann_cold", "r0.floor400", 5000), op("ann_cold", "r0.floor700", 3000),
                op("ann_cold", "r1.floor400", 1500), op("ann_cold", "r1.floor700", 1000)] +
               [op("ann_warm", f"r0.set{i}", 100 + i) for i in range(30)])
        rec = {"workload": "ann_serve", "ops": ops, "setup_s": [9.0, 1.0, 2.0],
               "storage_peak_bytes": 2**20, "timed_ms": [0.0, 1000.0]}
        m, diag = stats.end_to_end(rec)
        self.assertEqual(m["batch_s"], 2.5)  # the median of rounds {8.0, 2.5} by nearest rank
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["storage_mb.peak"], 1.0)
        self.assertEqual(m["request_ms.p50"], 114)
        self.assertEqual(m["request_ms.tail"], 119)  # 10 samples beyond: 120..129
        self.assertEqual(diag["batch_ops"], 2)


class Names(unittest.TestCase):
    def test_metric_names(self):
        stats.check_names(["setup_s", "request_ms.p50", "functions.memo_build_s.pq_train"])
        for bad in ["lookup ms", "a/b", "", "p95%"]:
            with self.assertRaises(ValueError):
                stats.check_names([bad])


if __name__ == "__main__":
    unittest.main()
