"""Tail-percentile rule, spread and SQL-metric parsing."""

import unittest

from benchmark import stats
from benchmark.sparkstats import parse_metric


class TailTest(unittest.TestCase):
    def test_no_tail_under_twenty_samples(self):
        for n in (1, 5, 19):
            self.assertIsNone(stats.tail_percentile(n))
            self.assertIsNone(stats.tail([1.0] * n))

    def test_tail_has_ten_samples_beyond(self):
        for n in (20, 37, 100):
            vals = [float(v) for v in range(n)]
            pct, value = stats.tail(vals)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
            self.assertEqual(sum(v > value for v in vals), 10)

    def test_tail_ignores_order(self):
        vals = [float((7 * i) % 40) for i in range(40)]
        self.assertEqual(stats.tail(vals), (75.0, 29.0))


class SpreadTest(unittest.TestCase):
    def test_quartiles_as_statistics_gives_them(self):
        s = stats.spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
        self.assertEqual((s["q1"], s["median"], s["q3"]), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(s["iqr_share"], 1.0)
        self.assertEqual((s["min"], s["max"]), (1.0, 10.0))


class ParseMetricTest(unittest.TestCase):
    def test_units(self):
        self.assertEqual(parse_metric("51"), 51.0)
        self.assertEqual(parse_metric("1,234"), 1234.0)
        self.assertAlmostEqual(parse_metric("599 ms"), 0.599)
        self.assertAlmostEqual(parse_metric("2.7 s"), 2.7)
        self.assertAlmostEqual(parse_metric("31.1 KiB"), 31.1 * 1024)

    def test_multi_task_total(self):
        v = "total (min, med, max (stageId: taskId))\n3.5 s (1.0 s, 1.2 s, 1.3 s (stage 2.0: task 7))"
        self.assertAlmostEqual(parse_metric(v), 3.5)


if __name__ == "__main__":
    unittest.main()
