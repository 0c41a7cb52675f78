"""Unit tests of the benchmark's statistics helper.

    python3 -m unittest discover -s perfbench/tests -p 'test_stats.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)

    def test_unsorted_input(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 60), 3)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond_the_tail(self):
        for n in range(21, 2000, 7):
            p = stats.tail_percentile(n)
            self.assertIsNotNone(p, n)
            rank = -(-p * n // 100)  # ceil
            self.assertGreaterEqual(n - rank, stats.MIN_BEYOND, (n, p))
            # the next percentile up would leave fewer than ten beyond
            if p < 99:
                rank_up = -(-(p + 1) * n // 100)
                self.assertLess(n - rank_up, stats.MIN_BEYOND, (n, p))

    def test_known_sizes(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(5000), 99)  # capped at p99

    def test_too_few_samples_give_no_tail(self):
        for n in (0, 1, 10, 11, 15, 20):
            self.assertIsNone(stats.tail_percentile(n), n)
            self.assertIsNone(stats.tail(list(range(n))), n)

    def test_tail_value(self):
        xs = [float(i) for i in range(1, 41)]
        self.assertEqual(stats.tail(xs), (75, 30.0))

    def test_failed_operations_miss_every_limit(self):
        xs = [1.0] * 30 + [float("inf")] * 10
        self.assertEqual(stats.tail(xs), (75, 1.0))
        self.assertEqual(stats.percentile(xs, 100), float("inf"))

    def test_summary(self):
        s = stats.summary([1.0, 2.0, 3.0])
        self.assertEqual(s, {"n": 3, "p50": 2.0, "tail_pct": None, "tail": None})
        s = stats.summary([float(i) for i in range(100)])
        self.assertEqual((s["n"], s["tail_pct"], s["tail"]), (100, 90, 89.0))


if __name__ == "__main__":
    unittest.main()
