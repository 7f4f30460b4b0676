"""Tests of the benchmark's percentile helper."""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import stats  # noqa: E402


class Percentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(list(range(100)), 90), 89)
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(20)), 50), 9)
        self.assertIsNone(stats.percentile(list(range(19)), 50))

    def test_order_of_samples_does_not_matter(self):
        xs = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(stats.percentile(xs, 90), stats.percentile(sorted(xs), 90))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(stats.median([]))

    def test_linear_fit(self):
        self.assertEqual(stats.linear_fit([0, 1, 2], [1, 3, 5]), (1.0, 2.0))
        self.assertIsNone(stats.linear_fit([1, 1], [2, 3]))


if __name__ == "__main__":
    unittest.main()
