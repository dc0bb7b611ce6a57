"""Tests for the benchmark's statistics and span arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 101))           # 100 samples
        self.assertEqual(stats.tail(xs), (90, 90, 10))

    def test_unsorted_input(self):
        xs = [25 - i for i in range(25)]             # 25 samples, descending
        p, v, beyond = stats.tail(xs)
        self.assertEqual((p, v, beyond), (60, 15, 10))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_twenty_samples_is_the_median(self):
        p, v, beyond = stats.tail(list(range(20)))
        self.assertEqual((p, v, beyond), (50, 9, 10))

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100, 3.0, 0))
        self.assertEqual(stats.tail(list(range(19))), (100, 18, 0))


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        self.assertEqual(stats.quartiles(xs), (2.75, 5.5, 8.25))

    def test_single_value(self):
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0, 4.0))


class PairRuleTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.2, 10.0]

    def test_wins_and_ties(self):
        self.assertEqual(stats.pair_wins([1, 2, 3], [0, 2, 4], "lower"), (1, 1))
        self.assertEqual(stats.pair_wins([1, 2, 3], [0, 2, 4], "higher"), (1, 1))

    def test_clear_gain(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(stats.ab_verdict(self.parent, change, "lower", 0.1),
                         "better")

    def test_eight_of_ten_is_not_a_gain(self):
        change = [x - 1.0 for x in self.parent]
        change[0] = change[1] = 20.0
        self.assertNotEqual(stats.ab_verdict(self.parent, change, "lower", 0.5),
                            "better")

    def test_gain_within_parent_spread_is_not_a_gain(self):
        parent = [10, 12, 8, 11, 9, 10, 12, 8, 11, 9]
        change = [x - 0.5 for x in parent]      # wins all 10, gain 0.5 < IQR
        self.assertEqual(stats.pair_wins(parent, change, "lower"), (10, 0))
        self.assertNotEqual(stats.ab_verdict(parent, change, "lower", 0.5),
                            "better")

    def test_regression_beyond_bound(self):
        change = [x * 1.3 for x in self.parent]
        self.assertEqual(stats.ab_verdict(self.parent, change, "lower", 0.1),
                         "worse")

    def test_unresolved_when_spread_exceeds_bound(self):
        parent = [10, 14, 6, 13, 7, 10, 14, 6, 13, 7]
        self.assertEqual(stats.ab_verdict(parent, parent, "lower", 0.1),
                         "unresolved")

    def test_too_few_pairs(self):
        self.assertEqual(stats.ab_verdict([1] * 9, [1] * 9, "lower", 0.1),
                         "too few pairs")


class SelfTimeTest(unittest.TestCase):
    def test_leaf_and_parent(self):
        spans = [{"start": 0.0, "end": 10.0, "parent": -1},
                 {"start": 1.0, "end": 3.0, "parent": 0},
                 {"start": 3.0, "end": 4.0, "parent": 0},
                 {"start": 6.0, "end": 9.0, "parent": 0}]
        self.assertEqual(stats.self_times(spans), [4.0, 2.0, 1.0, 3.0])

    def test_overlapping_children_count_once(self):
        spans = [{"start": 0.0, "end": 10.0, "parent": -1},
                 {"start": 1.0, "end": 5.0, "parent": 0},
                 {"start": 4.0, "end": 6.0, "parent": 0}]
        self.assertEqual(stats.self_times(spans)[0], 5.0)

    def test_grandchildren_belong_to_their_parent(self):
        spans = [{"start": 0.0, "end": 10.0, "parent": -1},
                 {"start": 2.0, "end": 8.0, "parent": 0},
                 {"start": 3.0, "end": 5.0, "parent": 1}]
        self.assertEqual(stats.self_times(spans), [4.0, 4.0, 2.0])

    def test_child_clipped_to_parent(self):
        spans = [{"start": 0.0, "end": 4.0, "parent": -1},
                 {"start": 3.0, "end": 6.0, "parent": 0}]
        self.assertEqual(stats.self_times(spans)[0], 3.0)


class SampleTest(unittest.TestCase):
    # three families of ten queries each; family c is three times slower
    pool = [{"name": f"q{f}{i}", "family": f, "fp": "*",
             "warm_s": (3 if f == "c" else 1) * (i + 1) / 30}
            for f in "abc" for i in range(10)]

    def test_same_seed_same_order(self):
        a = run.light_sample(self.pool, 7, n=6)
        self.assertEqual(a, run.light_sample(self.pool, 7, n=6))
        self.assertEqual(len(a), 6)
        self.assertEqual(len({q["name"] for q in a}), 6)

    def test_every_family_and_every_latency_bin(self):
        ranked = sorted(self.pool, key=lambda q: (q["warm_s"], q["name"]))
        bins = [ranked[i * 5:(i + 1) * 5] for i in range(6)]
        for seed in range(20):
            s = run.light_sample(self.pool, seed, n=6)
            self.assertEqual({q["family"] for q in s}, set("abc"))
            for b in bins:
                self.assertEqual(sum(1 for q in s if q in b), 1)

    def test_slow_queries_are_not_light(self):
        slow = self.pool + [{"name": "qslow", "family": "a", "fp": "*",
                             "warm_s": run.LIGHT_MAX_S + 1}]
        for seed in range(20):
            names = {q["name"] for q in run.light_sample(slow, seed, n=6)}
            self.assertNotIn("qslow", names)

    def test_seeds_change_the_order_not_the_queries(self):
        runs = [[q["name"] for q in run.light_sample(self.pool, s, n=6)]
                for s in range(10)]
        self.assertEqual({frozenset(r) for r in runs}, {frozenset(runs[0])})
        self.assertGreater(len({tuple(r) for r in runs}), 1)

    def test_registry_light_is_the_same_13_queries_for_every_seed(self):
        pool = run.read_pool()
        runs = [{q["name"] for q in run.light_sample(pool, s)}
                for s in range(10)]
        self.assertEqual(len(runs[0]), run.LIGHT_SAMPLE)
        self.assertTrue(all(r == runs[0] for r in runs))


if __name__ == "__main__":
    unittest.main()
