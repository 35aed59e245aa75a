"""Tests of the benchmark's own statistics.

Run: python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import math
import os
import sys
import unittest

sys.dont_write_bytecode = True

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def call(t, ms, ok=True, cls="read"):
    return {"t": t, "c": cls, "ok": ok, "ms": ms}


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_p90_withheld_and_counts_reported(self):
        calls = [call("a", float(i + 1)) for i in range(99)] + \
                [call("b", float(i + 1)) for i in range(200)]
        value, counts = stats.class_percentile(calls, "read", 90, need_tail=True)
        self.assertIsNone(value)
        self.assertEqual(counts, {"a": 99, "b": 200})
        calls.append(call("a", 100.0))
        value, counts = stats.class_percentile(calls, "read", 90, need_tail=True)
        self.assertEqual(counts, {"a": 100, "b": 200})
        self.assertAlmostEqual(value, math.sqrt(
            stats.percentile(range(1, 101), 90) * stats.percentile(range(1, 201), 90)))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 90), 4.6)
        self.assertEqual(stats.percentile([7], 90), 7)


class Geomean(unittest.TestCase):
    def test_geomean_across_op_types(self):
        calls = [call("get", 2.0), call("get", 8.0), call("get", 4.0),
                 call("scan", 100.0), call("write", 1.0, cls="write")]
        value, counts = stats.class_percentile(calls, "read", 50)
        self.assertAlmostEqual(value, math.sqrt(4.0 * 100.0))
        self.assertEqual(counts, {"get": 3, "scan": 1})

    def test_geomean_rejects_nonpositive(self):
        self.assertAlmostEqual(stats.geomean([1, 10, 100]), 10.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


class SparkDriverTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(20, 30), (0, 10), (10, 12)]), 22)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], lo=2, hi=8), 6)
        self.assertEqual(stats.union_length([(0, 3)], lo=5, hi=9), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_ms_is_wall_minus_job_union(self):
        c = {"t": "get", "c": "read", "ok": True, "ms": 100.0, "s": 1000, "e": 1100,
             "jobs_iv": [[1010, 1040], [1030, 1050], [1080, 1200]]}
        self.assertEqual(stats.driver_ms(c), 100.0 - 40 - 20)
        c["jobs_iv"] = []
        self.assertEqual(stats.driver_ms(c), 100.0)
        c["jobs_iv"] = [[900, 1300]]
        self.assertEqual(stats.driver_ms(c), 0.0)


class FailedCalls(unittest.TestCase):
    def test_failed_call_adds_no_sample(self):
        calls = [call("get", 100.0), call("get", 120.0), call("get", 0.5, ok=False)]
        self.assertEqual(stats.latency_samples(calls), {"get": [100.0, 120.0]})
        value, counts = stats.class_percentile(calls, "read", 50)
        self.assertAlmostEqual(value, 110.0)
        self.assertEqual(counts, {"get": 2})

    def test_type_with_only_failures_has_no_value(self):
        calls = [call("get", 100.0), call("scan", 0.2, ok=False)]
        value, counts = stats.class_percentile(calls, "read", 50)
        self.assertIsNone(value)
        self.assertEqual(counts, {"get": 1, "scan": 0})


class Halves(unittest.TestCase):
    def test_halves(self):
        ok, rates = stats.halves_agree([10.0, 11.0], [50, 50], 0.15)
        self.assertTrue(ok)
        self.assertEqual(rates, [5.0, 50 / 11.0])
        ok, _ = stats.halves_agree([10.0, 14.0], [50, 50], 0.15)
        self.assertFalse(ok)


if __name__ == "__main__":
    unittest.main()
