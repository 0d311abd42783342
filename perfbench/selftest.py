#!/usr/bin/env python3
"""Self-tests of the benchmark.

    python3 perfbench/selftest.py          # fast: generator, statistics
    python3 perfbench/selftest.py --jvm    # also three short JVM runs

The fast tests check that the generated inputs are a function of the
seed, the percentile sample rule and the error_rate accounting. With
--jvm, three one-second explore runs (seeds 5, 5, 6) check that the same
seed gives the same op sequence and inputs, and a different seed does
not.
"""
import glob
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen.generate(3, 0.001, 100, 50), gen.generate(3, 0.001, 100, 50)
        for t in gen.TABLES:
            self.assertTrue(a[t].equals(b[t]), t)

    def test_other_seed_other_tables(self):
        a, b = gen.generate(3, 0.001, 100, 50), gen.generate(4, 0.001, 100, 50)
        for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
            self.assertFalse(a[t].equals(b[t]), t)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_tail_rule(self):
        self.assertEqual(stats.tail_above(100, 90), 10)
        self.assertEqual(stats.tail_above(99, 90), 9)
        self.assertEqual(stats.highest_reportable(100), 90)
        self.assertEqual(stats.highest_reportable(1000), 99)
        self.assertEqual(stats.highest_reportable(20), 50)
        self.assertIsNone(stats.highest_reportable(19))


def summarize(res, trace):
    return stats.summarize(res, trace, stats.units(trace))


def result(kinds, errors=(), checks=()):
    n = len(kinds)
    return {"latencies_ms": [float(i + 1) for i in range(n)], "kinds": list(kinds),
            "rows": [1] * n, "loop_s": 2.0, "errors": list(errors),
            "check_failures": list(checks),
            "setup_s": 1.5, "peak_rss_mb": 100.0, "layers": {}}


class OracleMatchTest(unittest.TestCase):
    def test_float_rules(self):
        import oracle
        self.assertTrue(oracle.same(55.13124, 55.13123))      # equal to 4 decimals
        self.assertTrue(oracle.same(1796965.48, 1796965.49))  # a rounding tie at 2
        self.assertTrue(oracle.same(55.1312, 55.1313))        # a rounding tie at 4
        self.assertFalse(oracle.same(55.1312, 55.1314))
        self.assertFalse(oracle.same(0.5, 0.6))
        self.assertFalse(oracle.same("a", "b"))


class ErrorRateTest(unittest.TestCase):
    def test_clean_run(self):
        s = summarize(result(["a", "b", "a", "b"]), 0)
        self.assertEqual((s["attempted"], s["failed"], s["correct"]), (4, 0, True))
        self.assertEqual(s["error_rate"], 0.0)

    def test_raised_op_counts(self):
        s = summarize(result(["a", "failed_1", "a", "b"], errors=["op 1: boom"]), 0)
        self.assertEqual((s["failed"], s["correct"]), (1, False))
        self.assertEqual(s["error_rate"], 0.25)

    def test_wrong_result_charges_every_op_of_its_kind(self):
        bad = [{"kind": "a", "message": "mismatch"}]
        s = summarize(result(["a", "b", "a", "b"], checks=bad), 0)
        self.assertEqual((s["failed"], s["correct"], s["error_rate"]), (2, False, 0.5))

    def test_run_wide_failure_charges_all(self):
        bad = [{"kind": "*", "message": "check crashed"}]
        s = summarize(result(["a", "b", "c"], checks=bad), 0)
        self.assertEqual(s["failed"], 3)

    def test_metrics_by_trace_flag(self):
        plain = summarize(result(["a"] * 3), 0)["metrics"]
        self.assertEqual({k: m["unit"] for k, m in plain.items()}, stats.units(0))
        self.assertIn("setup_s", plain)
        layers = {k: 1.0 for k in stats.units(1)
                  if not k.startswith(("workload.", "trace.op_p50", "trace.ops_per"))}
        traced = summarize(dict(result(["a"] * 3), layers=layers), 1)["metrics"]
        self.assertEqual(set(traced), set(stats.units(1)))
        self.assertNotIn("op_p50_ms", traced)


class JvmDeterminismTest(unittest.TestCase):
    """Three real runs; enabled with --jvm."""

    def run_once(self, seed):
        before = set(glob.glob(os.path.join(os.path.dirname(HERE), "bench_results", "*.json")))
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "explore",
                        "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                       check=True, stdout=subprocess.DEVNULL)
        new = set(glob.glob(os.path.join(os.path.dirname(HERE), "bench_results", "*.json")))
        (f,) = new - before
        with open(f) as fh:
            return json.load(fh)

    def test_seed_fixes_ops_and_inputs(self):
        a, b, c = self.run_once(5), self.run_once(5), self.run_once(6)
        self.assertEqual(a["plan"], b["plan"])
        self.assertEqual(a["inputs"], b["inputs"])
        self.assertNotEqual(a["plan"], c["plan"])
        self.assertNotEqual(a["inputs"], c["inputs"])


if __name__ == "__main__":
    jvm = "--jvm" in sys.argv
    if jvm:
        sys.argv.remove("--jvm")
    else:
        del JvmDeterminismTest
    unittest.main()
