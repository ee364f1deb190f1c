"""Tests of the tracing-overhead report: a traced run of a seed against the
untraced run of the same seed, whichever of the two runs second.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class TracingOverheadTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def out(self, seed, trace):
        return os.path.join(self.dir, f"seed{seed}-trace{trace}")

    def write_summary(self, seed, trace, e2e):
        os.makedirs(self.out(seed, trace))
        with open(os.path.join(self.out(seed, trace), "summary.json"), "w") as f:
            json.dump({"end_to_end": e2e}, f)

    def test_none_before_the_other_run(self):
        self.assertIsNone(run.tracing_overhead(self.out(3, 1), 3, 1, {"latency_ms": 110.0}))

    def test_traced_run_second(self):
        self.write_summary(3, 0, {"latency_ms": 100.0, "throughput_per_s": 2.0})
        oh = run.tracing_overhead(self.out(3, 1), 3, 1, {"latency_ms": 110.0, "throughput_per_s": 1.5})
        self.assertAlmostEqual(oh["latency_ms"], 0.10)
        self.assertAlmostEqual(oh["throughput_per_s"], -0.25)

    def test_untraced_run_second_gives_the_same_sign(self):
        self.write_summary(3, 1, {"latency_ms": 110.0})
        oh = run.tracing_overhead(self.out(3, 0), 3, 0, {"latency_ms": 100.0})
        self.assertAlmostEqual(oh["latency_ms"], 0.10)

    def test_other_seeds_are_not_compared(self):
        self.write_summary(4, 0, {"latency_ms": 100.0})
        self.assertIsNone(run.tracing_overhead(self.out(3, 1), 3, 1, {"latency_ms": 110.0}))


if __name__ == "__main__":
    unittest.main()
