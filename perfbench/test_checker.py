#!/usr/bin/env python3
"""Test that the benchmark's answer checkers reject corrupted expectations.

Runs graft.perfbench.SelfTest (fingerprints, exact top-k, generation
windows, and one real query through the sweep's fingerprint gate) against
the committed fingerprint file, then against a copy in which that query's
fingerprint is corrupted, which the gate must reject.

Usage (from the root of a graft checkout): python3 perfbench/test_checker.py
"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "data", "sweep_fingerprints.tsv")


def selftest(fingerprints):
    cp, _ = build.build()
    work = os.path.join(build.BUILD, "selftest")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    return subprocess.run(
        ["java"] + run.jvm_flags() + [f"-Djava.io.tmpdir={work}/tmp",
         "-cp", os.pathsep.join(cp), "graft.perfbench.SelfTest",
         fingerprints, run.DATA, work],
        cwd=work, env=env, capture_output=True, text=True, timeout=170)


class CheckerTest(unittest.TestCase):
    def test_checks_hold(self):
        r = selftest(FINGERPRINTS)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("ALL CHECKS HOLD", r.stdout)

    def test_committed_fingerprints_are_well_formed(self):
        with open(FINGERPRINTS) as f:
            rows = [l.rstrip("\n").split("\t") for l in f
                    if l.strip() and not l.startswith("#")]
        self.assertGreaterEqual(len(rows), 20)
        self.assertEqual(len({r[0] for r in rows}), len(rows))
        for name, n, h in rows:
            self.assertTrue(n.isdigit(), name)
            self.assertEqual(len(h), 16, name)

    def test_corrupted_fingerprint_file_is_rejected(self):
        with open(FINGERPRINTS) as f:
            lines = f.read().splitlines()
        i = next(i for i, l in enumerate(lines) if l.startswith("health_check\t"))
        name, n, h = lines[i].split("\t")
        lines[i] = "\t".join([name, n, "%016x" % (int(h, 16) ^ 0xFF)])
        with tempfile.NamedTemporaryFile("w", suffix=".tsv", dir=build.BUILD,
                                         delete=False) as t:
            t.write("\n".join(lines) + "\n")
        try:
            r = selftest(t.name)
        finally:
            os.unlink(t.name)
        self.assertNotEqual(r.returncode, 0, r.stdout)
        self.assertIn("FAIL health_check matches its expectation", r.stdout)


if __name__ == "__main__":
    unittest.main()
