"""Tests for the benchmark's own arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class LatencyJoinTest(unittest.TestCase):
    def test_due_time_to_commit_of_its_batch(self):
        # 1000 events/s from id 100 at t0 = 5000 ms: id 100 is due at 5000,
        # id 101 at 5001, ...; ids 100-102 committed in batch 7 at 6000 ms,
        # ids 104-105 in batch 8 at 7500 ms (103 was filtered out)
        runs = [[7, 100, 102], [8, 104, 105]]
        got, missing = stats.latencies(runs, {"7": 6000.0, "8": 7500.0}, 100, 5000.0, 1000)
        self.assertEqual(got, [1000.0, 999.0, 998.0, 2496.0, 2495.0])
        self.assertEqual(missing, 0)

    def test_batch_without_commit_is_missing(self):
        got, missing = stats.latencies([[1, 0, 9], [2, 10, 11]], {"1": 50.0}, 0, 0.0, 100)
        self.assertEqual(len(got), 10)
        self.assertEqual(missing, 2)


class PercentileRuleTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond_it(self):
        values = list(range(1, 101))
        value, pct = stats.tail(values)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for v in values if v > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_tail_moves_up_with_sample_count(self):
        value, pct = stats.tail(list(range(100000)))
        self.assertEqual(value, 99989)
        self.assertAlmostEqual(pct, 99.99)

    def test_tail_at_the_smallest_count_that_supports_it(self):
        values = list(range(22))
        value, _ = stats.tail(values)
        self.assertEqual(value, 11)
        self.assertGreater(value, stats.median(values))

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0))
        self.assertEqual(stats.tail(list(range(21)))[0], 20)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class SpanSelfTimeTest(unittest.TestCase):
    SPANS = [
        {"id": "p", "parent": "", "layer": "pass", "start_ms": 0.0, "end_ms": 100.0},
        {"id": "a", "parent": "p", "layer": "query", "start_ms": 10.0, "end_ms": 30.0},
        {"id": "b", "parent": "p", "layer": "query", "start_ms": 20.0, "end_ms": 40.0},
        {"id": "c", "parent": "p", "layer": "query", "start_ms": 90.0, "end_ms": 120.0},
        {"id": "j", "parent": "a", "layer": "job", "start_ms": 12.0, "end_ms": 18.0},
    ]

    def test_self_time_subtracts_union_of_clipped_children(self):
        own = stats.self_times(self.SPANS)
        # children cover 10-40 (overlapping) and 90-100 (clipped) = 40 ms
        self.assertEqual(own["p"], 60.0)
        self.assertEqual(own["a"], 14.0)
        self.assertEqual(own["b"], 20.0)
        self.assertEqual(own["j"], 6.0)

    def test_self_by_layer_sums_and_windows(self):
        self.assertEqual(stats.self_by_layer(self.SPANS),
                         {"pass": 60.0, "query": 64.0, "job": 6.0})
        # only spans that start inside the window count: b and c
        self.assertEqual(stats.self_by_layer(self.SPANS, 15.0, 95.0), {"query": 50.0})

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 11)]), 9)
        self.assertEqual(stats.union_length([]), 0.0)


class ChecksumTest(unittest.TestCase):
    COLS = ["b", "a"]
    ROWS = [(1.5, "x"), (None, "y"), (-0.0, "z")]

    def test_independent_of_row_order(self):
        self.assertEqual(stats.checksum(self.COLS, self.ROWS),
                         stats.checksum(self.COLS, list(reversed(self.ROWS))))

    def test_independent_of_column_order(self):
        swapped = [(a, b) for b, a in self.ROWS]
        self.assertEqual(stats.checksum(self.COLS, self.ROWS),
                         stats.checksum(["a", "b"], swapped))

    def test_sensitive_to_values_and_duplicates(self):
        base = stats.checksum(self.COLS, self.ROWS)
        self.assertNotEqual(base, stats.checksum(self.COLS, self.ROWS[:2] + [(0.1, "z")]))
        self.assertNotEqual(base, stats.checksum(self.COLS, self.ROWS + self.ROWS[:1]))
        self.assertEqual(stats.rows_of(base), 3)
        self.assertTrue(base.startswith("n=3;cols=a,b;sum="))

    def test_canonical_values(self):
        self.assertEqual(stats.canon(None), "\\N")
        self.assertEqual(stats.canon(True), "true")
        self.assertEqual(stats.canon(42), "42")
        self.assertEqual(stats.canon(-0.0), stats.canon(0.0))
        self.assertEqual(stats.canon(1.0), "f:3ff0000000000000")
        self.assertEqual(stats.canon(decimal.Decimal("1.500")), "1.5")
        self.assertEqual(stats.canon(decimal.Decimal("100")), "100")
        self.assertEqual(stats.canon(decimal.Decimal("0.000")), "0")
        self.assertEqual(stats.canon("ab"), "2:ab")
        self.assertEqual(stats.canon(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)), "ts:1000005")
        self.assertEqual(stats.canon(datetime.date(1970, 1, 3)), "d:2")
        self.assertEqual(stats.canon([1, None]), "[1,\\N]")
        self.assertEqual(stats.canon({"y": 1, "x": 2}), "{x=2,y=1}")

    def test_golden_value(self):
        # expected.json holds checksums made by this function; a change to
        # it (or to its Scala mirror, perfbench.Checksum) must regenerate them
        self.assertEqual(stats.checksum(["n", "s"], [(1, "a"), (2, None)]),
                         "n=2;cols=n,s;sum=fe4d99e54e9e9406")


if __name__ == "__main__":
    unittest.main()
