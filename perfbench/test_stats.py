"""Self-test of the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import statistics
import unittest

from stats import median, quartiles, tail, union_length


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(median([]), 0.0)

    def test_quartiles_match_statistics_module(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(quartiles(xs)[1], 5.5)
        self.assertEqual(quartiles([2.0] * 10), (2.0, 2.0, 2.0))

    def test_tail_leaves_ten_samples_above(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100
        value, pct = tail(xs)
        self.assertEqual(value, 90.0)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_tail_order_independent_and_small_samples(self):
        xs = [float(i) for i in range(20, 0, -1)]  # 20..1, unsorted input
        value, pct = tail(xs)
        self.assertEqual((value, pct), (10.0, 50.0))
        self.assertEqual(tail([1.0] * 10), (None, None))
        self.assertEqual(tail([float(i) for i in range(11)]), (0.0, 100.0 / 11))

    def test_union_length_merges_overlaps(self):
        self.assertEqual(union_length([]), 0.0)
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.8), (4, 4)]), 4.0)
        self.assertEqual(union_length([(3, 1)]), 0.0)


if __name__ == "__main__":
    unittest.main()
