"""Self-tests of the summary statistics (run: python3 perfbench/run.py --selftest)."""

import statistics
import unittest

import stats


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples: rank 29 (value 30) has 10 above
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 30)
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(pct, 75.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_highest_such_percentile(self):
        # one more sample moves the tail up one rank, never below 10 beyond
        for n in range(11, 60):
            value, pct, beyond = stats.tail(list(range(n)))
            self.assertEqual(beyond, 10)
            self.assertEqual(value, n - 11)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_order_free(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_rank(10))
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)))


class PopulationGuard(unittest.TestCase):
    # 9 plain rounds near 4 s, 3 maintenance rounds near 6 s
    xs = [4.0, 4.1, 3.9, 6.2, 4.05, 3.95, 4.2, 6.1, 3.85, 4.15, 4.02, 6.3]
    kinds = ["plain", "plain", "plain", "maint"] * 3

    def test_median_and_tail_inside_plain(self):
        self.assertTrue(stats.population_ok(self.xs, self.kinds, (len(self.xs) - 1) // 2))
        self.assertTrue(stats.population_ok(self.xs, self.kinds, stats.tail_rank(len(self.xs))))

    def test_rank_at_boundary_rejected(self):
        # rank 8 is the slowest plain round, rank 9 the fastest maintenance one
        for rank in (7, 8, 9, 10):
            self.assertFalse(stats.population_ok(self.xs, self.kinds, rank))

    def test_single_population_always_ok(self):
        xs = list(range(20))
        for rank in range(20):
            self.assertTrue(stats.population_ok(xs, ["op"] * 20, rank))

    def test_length_mismatch(self):
        with self.assertRaises(ValueError):
            stats.population_ok([1.0, 2.0], ["a"], 0)


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 0.8, 1.0, 1.02, 0.98]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / statistics.median(xs))


if __name__ == "__main__":
    unittest.main()
