#!/usr/bin/env python3
"""Tests of the benchmark's output check and metric arithmetic.

Run from the repo root:  python3 -m unittest perfbench/test_run.py
PERFBENCH_E2E=1 also runs the benchmark once with a tampered expected file
and requires it to report the tampered entries as failed.
"""
import copy
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

EXPECTED = {"a": {"rows": 3, "hash": "17"}, "b": {"rows": 5, "hash": "-4"}}


def entry(name, rows, hash_=None, error=None, secs=0.5):
    return {"entry": name, "rows": rows, "hash": hash_, "error": error,
            "build_s": secs / 2, "action_s": secs / 2}


def harness_out(passes=3):
    return {
        "session_s": 1.0, "layout_write_s": 0.0, "rss_peak_mb": 900.0,
        "warmup": [{"pass": "check", "wall_s": 2.0,
                    "entries": [entry("a", 3, "17"), entry("b", 5, "-4")]},
                   {"pass": "settle", "wall_s": 1.5, "entries": [entry("a", 3), entry("b", 5)]}],
        "passes": [{"pass": p, "wall_s": 1.0 + p / 10,
                    "entries": [entry("a", 3, secs=0.1 * p), entry("b", 5, secs=0.2 * p)]}
                   for p in range(1, passes + 1)],
    }


def failed_frac(out, expected):
    m, _, _ = run.end_to_end(out, run.check(out, expected))
    return m["failed_frac"][0]


class CheckTest(unittest.TestCase):
    def test_matching_outputs_pass(self):
        out = harness_out()
        self.assertEqual(run.check(out, EXPECTED), [])
        self.assertEqual(failed_frac(out, EXPECTED), 0.0)

    def test_wrong_expected_count_fails_every_execution(self):
        bad = copy.deepcopy(EXPECTED)
        bad["a"]["rows"] = 4
        failures = run.check(harness_out(), bad)
        # the check, the settle pass and each of the three timed counts
        self.assertEqual([f[0] for f in failures], ["a"] * 5)
        self.assertAlmostEqual(failed_frac(harness_out(), bad), 5 / 10)

    def test_wrong_expected_hash_fails(self):
        bad = copy.deepcopy(EXPECTED)
        bad["b"]["hash"] = "5"
        self.assertEqual([f[0] for f in run.check(harness_out(), bad)], ["b"])
        self.assertGreater(failed_frac(harness_out(), bad), 0)

    def test_thrown_entry_fails(self):
        out = harness_out()
        out["passes"][1]["entries"][0] = entry("a", -1, error="boom")
        self.assertEqual(run.check(out, EXPECTED), [("a", "pass 2", "boom")])

    def test_missing_expected_value_fails(self):
        self.assertEqual(len(run.check(harness_out(), {"a": EXPECTED["a"]})), 5)


class MetricTest(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        value, pct, beyond = run.tail(list(range(100)))
        self.assertEqual((value, beyond), (89, 10))
        self.assertAlmostEqual(pct, 90.0)

    def test_tail_of_small_pool_is_its_minimum(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0])[0], 1.0)

    def test_end_to_end_medians(self):
        m, attempted, _ = run.end_to_end(harness_out(), [])
        self.assertEqual(attempted, 10)
        self.assertAlmostEqual(m["pass_s"][0], 1.2)
        self.assertAlmostEqual(m["setup_s"][0], 4.5)
        self.assertAlmostEqual(m["entry_p50_s"][0], 0.25)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class EndToEndTest(unittest.TestCase):
    def test_tampered_expected_value_is_reported(self):
        real = json.loads((run.HERE / "expected.json").read_text())
        real["entries"]["q1_pricing_summary"]["rows"] += 1
        real["entries"]["d1_exact_dedup"]["hash"] = "1"
        with tempfile.NamedTemporaryFile("w", suffix=".json", dir=run.OUT, delete=False) as f:
            json.dump(real, f)
        try:
            r = subprocess.run([sys.executable, str(run.HERE / "run.py"), "--workload",
                                "analytics_scan", "--seed", "1", "--seconds", "1", "--trace", "0",
                                "--expected", f.name], cwd=run.ROOT, capture_output=True,
                               text=True, timeout=300)
        finally:
            os.unlink(f.name)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertIn("FAILED q1_pricing_summary", r.stdout)
        self.assertIn("FAILED d1_exact_dedup (warm-up)", r.stdout)


if __name__ == "__main__":
    unittest.main()
