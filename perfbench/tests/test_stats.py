"""Self-tests for the benchmark's statistics and metric list.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_tail_has_ten_samples_beyond_it(self):
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(999), 90)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))
        for n in range(20, 3000, 7):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, (n, p))


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.1, 2.9, 3.0, 3.4, 2.8, 3.3, 3.2, 3.05, 2.95, 3.15]
        self.assertEqual(list(stats.quartiles(xs)), statistics.quantiles(xs, n=4))

    def test_spread_is_iqr_over_median(self):
        xs = [10, 10, 10, 10, 10, 10, 10, 10, 10, 10]
        self.assertEqual(stats.spread(xs), 0.0)
        q1, q2, q3 = statistics.quantiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], n=4)
        self.assertAlmostEqual(stats.spread(range(1, 11)), (q3 - q1) / q2)


class GainRuleTest(unittest.TestCase):
    parent = [100, 102, 98, 101, 99, 103, 97, 100, 101, 99]

    def test_clear_win_counts(self):
        change = [x - 10 for x in self.parent]
        self.assertTrue(stats.is_gain(self.parent, change, "lower"))
        self.assertFalse(stats.is_gain(self.parent, change, "higher"))

    def test_nine_of_ten_is_enough_eight_is_not(self):
        nine = [x - 10 for x in self.parent[:9]] + [self.parent[9] + 1]
        eight = [x - 10 for x in self.parent[:8]] + [x + 1 for x in self.parent[8:]]
        self.assertTrue(stats.is_gain(self.parent, nine))
        self.assertFalse(stats.is_gain(self.parent, eight))

    def test_ties_count_for_neither_side(self):
        change = [x - 10 for x in self.parent[:9]] + [self.parent[9]]
        self.assertTrue(stats.is_gain(self.parent, change))
        change = [x - 10 for x in self.parent[:8]] + self.parent[8:]
        self.assertFalse(stats.is_gain(self.parent, change))

    def test_medians_must_differ_by_more_than_parent_iqr(self):
        q1, _, q3 = stats.quartiles(self.parent)
        small = [x - 0.9 * (q3 - q1) for x in self.parent]
        self.assertFalse(stats.is_gain(self.parent, small))

    def test_needs_paired_runs(self):
        with self.assertRaises(ValueError):
            stats.is_gain([1, 2], [1])


class MetricListTest(unittest.TestCase):
    def test_benchmark_json_lists_every_per_layer_metric(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json not next to perfbench/")
        bench = json.load(open(path))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], layers.METRICS)


if __name__ == "__main__":
    unittest.main()
