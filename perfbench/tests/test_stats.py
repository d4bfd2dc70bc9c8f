"""Unit tests of the benchmark's reductions.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertTrue(stats.supports(200, 0.95))
        self.assertFalse(stats.supports(199, 0.95))
        self.assertTrue(stats.supports(100, 0.90))
        self.assertFalse(stats.supports(99, 0.90))
        self.assertTrue(stats.supports(20, 0.5))

    def test_highest_supported(self):
        self.assertEqual(stats.highest_supported(1000), 0.99)
        self.assertEqual(stats.highest_supported(200), 0.95)
        self.assertEqual(stats.highest_supported(150), 0.9)
        self.assertEqual(stats.highest_supported(40), 0.75)
        self.assertEqual(stats.highest_supported(39), 0.5)
        self.assertIsNone(stats.highest_supported(19))

    def test_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0.0), 1.0)
        self.assertEqual(stats.percentile(xs, 1.0), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 0.5), 2.5)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 0.95), 95.0)


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]),
                         [[0, 4], [5, 7]])
        self.assertEqual(stats.union([(0, 10), (2, 3)]), [[0, 10]])
        self.assertEqual(stats.union([(2, 2), (3, 1)]), [])
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (10, 11)]), 4)

    def test_driver_gap_is_pass_minus_job_union(self):
        spans = [{"id": "p1", "parent": "", "kind": "pass", "start": 0.0, "end": 100.0},
                 {"id": "p1.e0", "parent": "p1", "kind": "entry", "start": 0.0, "end": 100.0}]
        jobs = [{"job": i, "span": "p1.e0", "start": s, "end": e, "stages": []}
                for i, (s, e) in enumerate([(10, 20), (15, 30), (50, 60)])]
        tr = {"spans": spans, "jobs": jobs, "stages": []}
        m = stats.exec_metrics(tr, cores=4, n_units=1, wall_s=0.1)
        self.assertAlmostEqual(m["exec.driver_gap_s"], 0.1 - 0.03)
        self.assertEqual(m["exec.jobs"], 3)

    def test_self_time(self):
        span = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 20.0}, {"start": 15.0, "end": 40.0},
                {"start": 90.0, "end": 120.0}]
        # children cover [10, 40] and [90, 100] inside the span
        self.assertAlmostEqual(stats.self_time(span, kids), 60.0)
        self.assertAlmostEqual(stats.self_time(span, []), 100.0)

    def test_slope(self):
        self.assertAlmostEqual(stats.slope([0, 1, 2, 3], [1, 3, 5, 7]), 2.0)
        self.assertEqual(stats.slope([1, 1], [2, 3]), 0.0)


if __name__ == "__main__":
    unittest.main()
