"""Digest checking and per-layer attribution."""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import compare  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402


def op(key, rows, digest):
    return {"key": key, "rows": rows, "digest": digest}


class CheckTest(unittest.TestCase):
    def test_corrupted_expected_digest_counts_as_failed(self):
        ops = [op("a", 3, "17"), op("b", 5, "-4"), op("a", 3, "17")]
        with tempfile.TemporaryDirectory() as t:
            e = oracle.Expected(t, "w", 1, "h")
            e.record("a", "3:17", "duckdb")
            e.record("b", "5:-4", "first-run")
            e.save()
            self.assertEqual(oracle.check(ops, oracle.Expected(t, "w", 1, "h")), [])
            e.digests["b"]["digest"] = "5:-5"  # plant a wrong digest
            e.save()
            reloaded = oracle.Expected(t, "w", 1, "h")
            failed = oracle.check(ops, reloaded)
            self.assertEqual(failed, ["b"])
            self.assertAlmostEqual(len(failed) / len(ops), 1 / 3)  # fail_frac

    def test_error_and_unknown_key_fail(self):
        e = oracle.Expected(tempfile.gettempdir(), "none", 0, "none")
        e.record("a", "1:1", "duckdb")
        self.assertEqual(oracle.check([{"key": "a", "error": "boom"}, op("z", 1, "1")], e), ["a", "z"])


class AttributeTest(unittest.TestCase):
    def test_layers_sum_to_op_wall(self):
        spans = [
            {"kind": "op", "start_ms": 0, "end_ms": 100},
            {"kind": "build", "start_ms": 0, "end_ms": 40},
            {"kind": "job", "start_ms": 10, "end_ms": 30},      # a fit inside the builder
            {"kind": "analysis", "start_ms": 42, "end_ms": 45},
            {"kind": "optimization", "start_ms": 45, "end_ms": 50},
            {"kind": "planning", "start_ms": 50, "end_ms": 60},
            {"kind": "job", "start_ms": 58, "end_ms": 95},      # overlaps planning (AQE)
        ]
        got = layers.attribute(spans[0], spans)
        self.assertEqual(sum(got.values()), 100)
        self.assertEqual(got["sched.job_ms"], 20 + 37)
        self.assertEqual(got["queries.build_ms"], 20)
        self.assertEqual(got["catalyst.planning_ms"], 8)
        self.assertEqual(got["driver.other_ms"], 2 + 5)

    def test_tail_has_ten_samples_beyond(self):
        p, v, n = layers.tail(list(range(1, 121)))
        self.assertEqual((p, n), (90.0, 120))
        self.assertAlmostEqual(v, 108.1)
        self.assertGreaterEqual(sum(x > v for x in range(1, 121)), 10)
        # too few samples for any tail: the median
        self.assertEqual(layers.tail([4, 1, 3, 2]), (50.0, 2.5, 4))


class CompareTest(unittest.TestCase):
    @staticmethod
    def run_file(ms, failed):
        return {"correct": not failed, "attempted": 10, "failed": failed,
                "metrics": {"op_p50_ms": {"value": ms, "unit": "ms"}},
                "details": {"workload": "w", "box": {"box.steal_frac": 0.01}}}

    def test_b_failing_more_voids_the_verdict(self):
        a = [self.run_file(100, 0), self.run_file(102, 0)]
        b = [self.run_file(50, 1), self.run_file(51, 0)]  # faster, but an op failed
        rows, fails = compare.compare(a, b, compare.bounds())
        self.assertEqual([r[6] for r in rows if r[1] == "op_p50_ms"], ["invalid"])
        self.assertEqual(fails["w"], ((0, 20), (1, 20), True))
        rows, fails = compare.compare(a, a, compare.bounds())
        self.assertEqual([r[6] for r in rows if r[1] == "op_p50_ms"], ["agree"])
        self.assertFalse(fails["w"][2])


if __name__ == "__main__":
    unittest.main()
