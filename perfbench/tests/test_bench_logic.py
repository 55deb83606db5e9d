"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The JVM-side checks (open-loop timing under a stalled server, digest order
insensitivity, module attribution of all catalog entries, check slices
covering every entry) run through
`run.py --selftest`, which needs java and the Spark jars.
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import compare  # noqa: E402
import spec  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertTrue(stats.supported(100, 90))
        self.assertFalse(stats.supported(99, 90))
        self.assertTrue(stats.supported(40, 75))
        self.assertFalse(stats.supported(39, 75))
        self.assertEqual(stats.highest_supported(200), 95)
        self.assertEqual(stats.highest_supported(60), 75)
        self.assertEqual(stats.highest_supported(19), None)

    def test_interpolates_like_numpy(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(stats.percentile(list(range(11)), 90), 9.0)


class Failures(unittest.TestCase):
    ops = [{"ms": 10.0, "ok": True}, {"ms": 20.0, "ok": True},
           {"ms": 5.0, "ok": False}, {"ms": 3000.0, "ok": True}]

    def test_failure_misses_every_limit(self):
        self.assertEqual(stats.limit_misses(self.ops, 2000), 2)
        self.assertEqual(stats.limit_misses(self.ops, 1e12), 1)

    def test_failure_is_slowest_sample(self):
        lat = stats.latencies(self.ops)
        self.assertEqual(stats.percentile(lat, 100), stats.INF)
        self.assertEqual(stats.percentile(lat, 50), 1510.0)  # 10, 20, 3000, inf


class Verdicts(unittest.TestCase):
    base = [100.0, 101.0, 99.0, 100.5, 99.5, 100.2, 99.8, 100.1, 99.9, 100.3]

    def test_improved(self):
        v, won = compare.verdict(self.base, [x * 0.8 for x in self.base], "lower", 0.1)
        self.assertEqual((v, won), ("improved", 1.0))

    def test_no_worse_and_worse(self):
        self.assertEqual(compare.verdict(self.base, [x * 1.05 for x in self.base],
                                         "lower", 0.1)[0], "no worse")
        self.assertEqual(compare.verdict(self.base, [x * 1.3 for x in self.base],
                                         "lower", 0.1)[0], "worse")
        self.assertEqual(compare.verdict(self.base, [x * 0.7 for x in self.base],
                                         "higher", 0.1)[0], "worse")

    def test_unresolved_when_spread_exceeds_bound(self):
        noisy = [50.0, 150.0, 60.0, 140.0, 100.0, 70.0, 130.0, 80.0, 120.0, 90.0]
        self.assertEqual(compare.verdict(self.base, noisy, "lower", 0.1)[0], "unresolved")


class Spec(unittest.TestCase):
    def test_benchmark_json_matches_spec(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.assertEqual(json.load(f), spec.benchmark_json())

    def test_setup_has_the_largest_bound(self):
        bounds = {n: b for n, _, _, b in spec.END_TO_END}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertTrue(all(b <= 0.25 for b in bounds.values()))


@unittest.skipUnless(shutil.which("java"), "needs java")
class JvmSelfTest(unittest.TestCase):
    def test_selftest(self):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--selftest"],
                           cwd=os.path.dirname(BENCH), stdout=subprocess.PIPE, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)


if __name__ == "__main__":
    unittest.main()
