"""Tests of the benchmark's pure parts. Run from the checkout root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))           # 100 samples
        # p90 is sample 90 with 10 beyond; p95 would leave only 5
        self.assertEqual(stats.tail(xs, -1), (90, 90.0, 100))

    def test_order_of_samples_does_not_matter(self):
        xs = list(range(1, 41))
        self.assertEqual(stats.tail(list(reversed(xs)), -1), stats.tail(xs, -1))

    def test_forty_samples_give_p75(self):
        self.assertEqual(stats.tail(list(range(1, 41)), -1), (30, 75.0, 40))

    def test_twenty_samples_give_the_median(self):
        # the median of 20 samples has exactly ten beyond it
        self.assertEqual(stats.tail(list(range(1, 21)), -1), (10, 50.0, 20))

    def test_too_few_samples_give_the_fallback(self):
        self.assertEqual(stats.tail([5, 1, 3], 4), (4, 100.0, 3))
        self.assertEqual(stats.tail(list(range(19)), 7), (7, 100.0, 19))
        self.assertEqual(stats.tail([], 0), (0, 100.0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(0, 10, []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 4), (3, 6)]), 5)

    def test_nested_and_duplicate_children(self):
        self.assertEqual(stats.self_time(0, 10, [(2, 8), (3, 4), (2, 8)]), 4)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time(0, 10, [(-5, 2), (9, 20)]), 7)

    def test_disjoint_children(self):
        self.assertEqual(stats.covered([(0, 1), (2, 3), (5, 9)]), 6)


class OrderTest(unittest.TestCase):
    names = [f"q{i}" for i in range(12)]

    def test_same_seed_same_permutation(self):
        self.assertEqual(stats.pass_order(self.names, 7, 3),
                         stats.pass_order(self.names, 7, 3))

    def test_is_a_permutation(self):
        self.assertEqual(sorted(stats.pass_order(self.names, 7, 3)), sorted(self.names))

    def test_seed_and_pass_change_the_order(self):
        base = stats.pass_order(self.names, 7, 3)
        self.assertNotEqual(stats.pass_order(self.names, 8, 3), base)
        self.assertNotEqual(stats.pass_order(self.names, 7, 4), base)


class ContainsTest(unittest.TestCase):
    def test_millisecond_slack(self):
        self.assertTrue(stats.contains((10.4, 20.2), (10, 21)))
        self.assertFalse(stats.contains((10.4, 20.2), (8, 15)))


if __name__ == "__main__":
    unittest.main()
