"""Runs the JVM-side checks of the result digest (perfbench/src/perfbench/
DigestCheck.scala) against a fresh build.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import build  # noqa: E402
import run  # noqa: E402


class DigestTest(unittest.TestCase):
    def test_digest_properties(self):
        classes, _, jars = build.build()
        work = os.path.join(run.OUT, "work", "digest-check")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        try:
            r = subprocess.run(run.java_command(classes, jars, work) + ["perfbench.DigestCheck"],
                               capture_output=True, text=True, timeout=300, cwd=work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn("digest checks passed", r.stdout)


if __name__ == "__main__":
    unittest.main()
