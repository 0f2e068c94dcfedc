"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_smallest_sample_that_has_a_tail(self):
        self.assertEqual(stats.tail([5.0] * 10 + [1.0]), (1.0, 100 / 11, 11))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))


def span(i, parent, a, b):
    return {"id": i, "parent": parent, "start_s": a, "end_s": b}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0.0, 10.0),
                 span(2, 1, 1.0, 4.0), span(3, 1, 3.0, 5.0),  # overlap 3..4
                 span(4, 1, 8.0, 12.0),                       # runs past parent
                 span(5, 2, 1.0, 2.0)]
        t = stats.self_times(spans)
        self.assertAlmostEqual(t[1], 10.0 - 4.0 - 2.0)
        self.assertAlmostEqual(t[2], 2.0)
        self.assertAlmostEqual(t[5], 1.0)

    def test_leaf_keeps_its_duration(self):
        self.assertEqual(stats.self_times([span(7, 0, 2.0, 2.5)]), {7: 0.5})


class VerdictTest(unittest.TestCase):
    base = [10.0, 10.1, 9.9, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0, 10.02]

    def test_improved_needs_nine_tenths_of_pairs(self):
        faster = [x * 0.9 for x in self.base]
        self.assertEqual(stats.verdict(self.base, faster, "lower", 0.1), "improved")
        two_losses = faster[:8] + [11.0, 11.0]
        self.assertNotEqual(stats.verdict(self.base, two_losses, "lower", 0.1), "improved")

    def test_worse_beyond_bound(self):
        slower = [x * 1.2 for x in self.base]
        self.assertEqual(stats.verdict(self.base, slower, "lower", 0.1), "worse")
        self.assertEqual(stats.verdict(self.base, slower, "higher", 0.1), "improved")

    def test_within_bound_is_no_worse(self):
        slower = [x * 1.05 for x in self.base]
        self.assertEqual(stats.verdict(self.base, slower, "lower", 0.1), "no worse")

    def test_wide_spread_is_unresolved(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
        self.assertEqual(stats.verdict(noisy, noisy[::-1], "lower", 0.1), "unresolved")
        # unless every change run reads better than every parent run
        self.assertEqual(stats.verdict(noisy, [x / 4 for x in self.base], "lower", 0.1),
                         "improved")


if __name__ == "__main__":
    unittest.main()
