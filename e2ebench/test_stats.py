"""Unit tests for the sample-support rule.  Run: python3 -m unittest discover e2ebench"""

import unittest

import stats


class SampleSupport(unittest.TestCase):
    def test_p50_needs_twenty_samples(self):
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)

    def test_ten_samples_lie_beyond_every_reported_percentile(self):
        for n in range(1, 400):
            xs = list(range(n))
            for level in stats.TAIL_LEVELS:
                value = stats.percentile(xs, level)
                if value is not None:
                    self.assertGreaterEqual(sum(1 for x in xs if x > value), stats.MIN_BEYOND)

    def test_tail_is_the_highest_supported_level(self):
        self.assertEqual(stats.tail(list(range(45))), (75, 33))
        self.assertEqual(stats.tail(list(range(1000)), ), (99, 989))
        self.assertIsNone(stats.tail(list(range(10))))

    def test_empty_input_reports_nothing(self):
        self.assertIsNone(stats.percentile([], 50))
        self.assertIsNone(stats.tail([]))

    def test_percentile_ignores_input_order(self):
        xs = [5, 1, 4, 2, 3] * 8
        self.assertEqual(stats.percentile(xs, 50), stats.percentile(sorted(xs), 50))


if __name__ == "__main__":
    unittest.main()
