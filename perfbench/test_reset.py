#!/usr/bin/env python3
"""Tests of the benchmark's pass reset and session guard.

Run from the root of a graft checkout:
  python3 perfbench/test_reset.py

Builds graft and the benchmark runner as a run does, generates a tiny input
(scale factor 0.001), runs one pass of cache-heavy queries, and checks that
the pass left persisted RDDs and cached plans behind, that the reset between
passes removes every one of them, and that a query cannot run twice in one
session. A second test runs a short measured workload and checks that no
reset in it left state behind and that every pass ran each query once.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

# leaves a persisted edge table, scan caches and localCheckpoint blocks
QUERIES = ["q_cc", "q_deepest", "q_topo_level", "q_out"]


def runner(classpath, data, out, extra):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = run.runner_cmd(classpath, tmp, [
        "--dir", data, "--queries", ",".join(f"{q}:graph" for q in QUERIES), "--seed", "7",
        "--cores", "2", "--local-dir", tmp, "--out", out] + extra)
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600)


class PassResetTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classpath = run.build(run.spark_jars())
        cls.root = os.path.abspath(os.path.join(run.BUILD, "graft", "test"))
        cls.data = os.path.join(cls.root, "data")
        if not os.path.exists(os.path.join(cls.data, "region.parquet")):
            gen.generate(cls.data, 0.001, 7, 200, 200)

    def test_reset_clears_caches_and_guard_rejects_repeats(self):
        out = os.path.join(self.root, "selftest")
        runner(self.classpath, self.data, out, ["--seconds", "0", "--selftest", "1"])
        with open(os.path.join(out, "selftest.json")) as f:
            r = json.load(f)
        self.assertEqual(r["queries_ok"], len(QUERIES))
        self.assertGreater(r["rdds_before"], 0, "the pass should leave persisted RDDs")
        self.assertFalse(r["cache_empty_before"], "the pass should leave cached plans")
        self.assertEqual(r["rdds_after"], 0)
        self.assertTrue(r["cache_empty_after"])
        self.assertTrue(r["repeat_rejected"])
        self.assertTrue(r["other_session_allowed"])

    def test_measured_run_resets_every_pass(self):
        out = os.path.join(self.root, "measured")
        runner(self.classpath, self.data, out,
               ["--seconds", "0", "--setups", "2", "--min-passes", "3", "--trace", "0"])
        with open(os.path.join(out, "result.json")) as f:
            r = json.load(f)
        self.assertEqual(r["reset_violations"], 0)
        self.assertEqual(r["failures"], {})
        self.assertEqual(len(r["setup_s"]), 2)
        self.assertEqual(len(r["pass_s"]), 3)
        self.assertEqual(len(r["latency_s"]), 3 * len(QUERIES))


if __name__ == "__main__":
    os.chdir(os.path.dirname(HERE))
    unittest.main()
