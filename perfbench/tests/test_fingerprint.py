"""The result fingerprint is order-insensitive and still tells results apart.

Compiles the program with the harness (as run.py does) and runs the
`graft.perfbench.FingerprintCheck` self-check in a small local Spark JVM.
Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class FingerprintOrderInsensitive(unittest.TestCase):
    def test_self_check(self):
        jars = run.spark_jars(ROOT)
        classes = run.build(ROOT, jars)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as tmp:
            out = subprocess.run(
                run.java_cmd(classes, jars, tmp, ["graft.perfbench.FingerprintCheck"]),
                capture_output=True, text=True, cwd=tmp, timeout=300)
        lines = [l for l in out.stdout.splitlines() if l.startswith(("ok ", "FAIL "))]
        self.assertEqual(out.returncode, 0, "\n".join(lines) or out.stderr[-2000:])
        self.assertEqual(len(lines), 7, out.stdout)


if __name__ == "__main__":
    unittest.main()
