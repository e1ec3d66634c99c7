"""Tests of the benchmark's statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


def rnd(*ops):
    return {"ops": [{"name": n, "ms": ms, "ok": ok} for n, ms, ok in ops]}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 31))  # 30 samples
        pct, value, beyond = stats.tail(xs)
        self.assertEqual(value, 20)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 19 / 29)

    def test_order_of_samples_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 15, 11, 14, 12, 13, 20, 16, 19, 17, 18, 21]
        self.assertEqual(stats.tail(xs)[1], 11)

    def test_smallest_sample_with_a_tail_at_or_above_the_median(self):
        pct, value, beyond = stats.tail(list(range(21)))
        self.assertEqual((pct, value, beyond), (50.0, 10, 10))

    def test_too_few_samples_reports_the_maximum(self):
        pct, value, beyond = stats.tail([3.0, 1.0, 2.0] * 4)
        self.assertEqual((pct, value, beyond), (100.0, 3.0, 0))
        self.assertEqual(stats.tail([7.0]), (100.0, 7.0, 0))


class Quartiles(unittest.TestCase):
    def test_match_statistics_quantiles(self):
        xs = [10.0, 12.0, 11.0, 30.0, 9.0, 10.5, 11.5, 12.5, 10.2, 9.8]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


class FailureCounting(unittest.TestCase):
    def test_counts_every_op_of_every_window(self):
        warm = [rnd(("a", 1, True), ("b", 2, False))]
        timed = [rnd(("a", 1, True), ("b", 2, True)), rnd(("a", 1, False), ("b", 2, True))]
        self.assertEqual(stats.count_ops(warm, timed), (6, 2))
        self.assertEqual(stats.count_ops([]), (0, 0))

    def test_round_and_op_latency(self):
        rounds = [rnd(("getavg", 10, True), ("x", 30, True)),
                  rnd(("getavg", 20, True), ("x", 40, True))]
        self.assertEqual([stats.round_ms(r) for r in rounds], [40, 60])
        self.assertEqual(stats.op_ms(rounds, "getavg"), [10, 20])
        self.assertAlmostEqual(stats.ops_per_s(rounds), 4 / 0.1)


class Spans(unittest.TestCase):
    # [id, parent, name, op, t0, t1] in ns
    SPANS = [
        [0, -1, "op", "getavg", 0, 10_000_000],
        [1, 0, "pmr.build", "getavg", 0, 4_000_000],
        [2, 1, "edfs.resolve", "getavg", 1_000_000, 3_000_000],
        [3, 0, "pmr.exec", "getavg", 4_000_000, 9_000_000],
    ]

    def test_self_time_subtracts_children(self):
        st = stats.self_times(self.SPANS)
        self.assertAlmostEqual(st[0], 1.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 5.0)

    def test_overlapping_children_count_once(self):
        self.assertAlmostEqual(stats.union_ms([(0, 4_000_000), (2_000_000, 6_000_000),
                                               (8_000_000, 9_000_000)]), 7.0)

    def test_coverage_per_op(self):
        self.assertAlmostEqual(stats.coverage(self.SPANS)["getavg"], 0.9)


if __name__ == "__main__":
    unittest.main()
