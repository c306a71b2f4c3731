"""Metric math on fixed samples: python3 -m unittest discover graftbench/tests"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import metrics as M  # noqa: E402


class MedianGeomean(unittest.TestCase):
    def test_median(self):
        self.assertEqual(M.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(M.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            M.median([])

    def test_geomean(self):
        self.assertAlmostEqual(M.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(M.geomean([0.5, 2.0]), 1.0)
        with self.assertRaises(ValueError):
            M.geomean([1.0, 0.0])

    def test_query_medians(self):
        samples = [("a", 1.0), ("b", 10.0), ("a", 3.0), ("b", 30.0), ("a", 2.0)]
        self.assertEqual(M.query_medians(samples), {"a": 2.0, "b": 20.0})


class TailRatio(unittest.TestCase):
    def test_ratio_to_own_median_and_rank(self):
        # two queries, 12 executions each, times = median * (1 + k/100)
        samples = []
        for q, base in (("fast", 0.1), ("slow", 5.0)):
            for k in range(-5, 7):  # 12 values; median ratio is 1.005
                samples.append((q, base * (1 + k / 100.0)))
        ratio, pct, n = M.tail_ratio(samples)
        self.assertEqual(n, 24)
        # nearest rank 14 of 24 leaves exactly 10 samples beyond it
        self.assertAlmostEqual(pct, 100.0 * 14 / 24)
        ratios = sorted((1 + k / 100.0) / 1.005 for k in range(-5, 7) for _ in range(2))
        self.assertAlmostEqual(ratio, ratios[13])
        self.assertEqual(sum(1 for r in ratios if r > ratio), 10)

    def test_independent_of_query_mix(self):
        # scaling one query's times leaves every ratio unchanged
        a = [("x", t) for t in (1.0, 1.1, 0.9, 1.3, 1.0, 1.05)] + \
            [("y", t) for t in (2.0, 2.2, 1.8, 2.1, 2.0, 2.6)]
        b = [(q, t * 40 if q == "y" else t) for q, t in a]
        self.assertAlmostEqual(M.tail_ratio(a)[0], M.tail_ratio(b)[0])

    def test_needs_more_than_ten_samples(self):
        ten = [("q", 1.0 + i / 10) for i in range(10)]
        with self.assertRaises(ValueError):
            M.tail_ratio(ten)
        ratio, pct, n = M.tail_ratio(ten + [("q", 3.0)])
        self.assertEqual((n, pct), (11, 100.0 / 11))


class SelfTime(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [
            {"id": "q", "parent": "", "start_us": 0, "end_us": 100},
            {"id": "j1", "parent": "q", "start_us": 10, "end_us": 40},
            {"id": "j2", "parent": "q", "start_us": 30, "end_us": 60},   # overlaps j1
            {"id": "j3", "parent": "q", "start_us": 90, "end_us": 120},  # runs past q
            {"id": "s1", "parent": "j1", "start_us": 15, "end_us": 25},
        ]
        t = M.self_times(spans)
        self.assertEqual(t["q"], 100 - (50 + 10))
        self.assertEqual(t["j1"], 30 - 10)
        self.assertEqual(t["j2"], 30)
        self.assertEqual(t["s1"], 10)

    def test_covered(self):
        self.assertEqual(M.covered([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(M.covered([]), 0)


class Spread(unittest.TestCase):
    def test_quartile_spread(self):
        values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
        import statistics
        q1, q2, q3 = statistics.quantiles(values, n=4)
        self.assertTrue(math.isclose(M.quartile_spread(values), (q3 - q1) / q2))


if __name__ == "__main__":
    unittest.main()
