"""Tests for the benchmark's arithmetic: python3 -m unittest discover -s perfbench"""
import math
import unittest

import stats


class TailPercentile(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in range(21, 2000):
            p = stats.tail_percentile(n)
            rank = math.ceil(p * n / 100)
            self.assertGreaterEqual(n - rank, 10, n)
            # and it is the highest such whole percentile
            if p < 100:
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(30), 66)

    def test_few_samples_fall_back_to_median(self):
        for n in range(1, 21):
            self.assertEqual(stats.tail_percentile(n), 50, n)
        xs = [5.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.tail(xs), (2.5, 50))

    def test_tail_value_is_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.tail(xs), (90, 90))
        self.assertEqual(sum(1 for x in xs if x > 90), 10)

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class Means(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class Ratios(unittest.TestCase):
    def test_failed_ratio(self):
        self.assertEqual(stats.failed_ratio(0, 7), 0.0)
        self.assertEqual(stats.failed_ratio(1, 4), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)

    def test_fixed_share(self):
        # two triggers of 400 and 600 ms with 100 and 200 ms in addBatch
        self.assertAlmostEqual(stats.fixed_share([100, 200], [400, 600]), 0.7)
        self.assertEqual(stats.fixed_share([0], [50]), 1.0)
        with self.assertRaises(ValueError):
            stats.fixed_share([0], [0])

    def test_overhead(self):
        samples = [("a", True, 110), ("a", False, 100), ("b", True, 220), ("b", False, 200),
                   ("c", True, 5)]  # c has no untraced sample: ignored
        self.assertAlmostEqual(stats.overhead(samples), 0.1)
        self.assertEqual(stats.overhead([("a", True, 1)]), 0.0)


if __name__ == "__main__":
    unittest.main()
