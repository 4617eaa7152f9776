#!/usr/bin/env python3
"""Tests of the benchmark harness itself (not of the engine):

    python3 perfbench/selftest.py

Runs the JVM-side cases (percentile rule, failure counting through the real
runner, generator byte-identity, plain-Scala oracles on hand-checked graphs,
job attribution) and the Python-side cases below. Exits non-zero on failure.
"""
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import run  # noqa: E402
import steadiness  # noqa: E402


class PythonSide(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        # statistics.quantiles(n=4) of 1..10: q1 = 2.75, q3 = 8.25; median 5.5
        self.assertAlmostEqual(steadiness.spread(list(range(1, 11))), 1.0)
        self.assertEqual(steadiness.spread([3.0] * 10), 0.0)

    def test_digest_ignores_row_and_column_order(self):
        import pyarrow as pa
        a = pa.table({"x": [1, 2], "y": ["a", "b"]})
        b = pa.table({"y": ["b", "a"], "x": [2, 1]})
        self.assertEqual(run.digest(a), run.digest(b))
        self.assertNotEqual(run.digest(a), run.digest(pa.table({"x": [1, 3], "y": ["a", "b"]})))

    def test_nan_compares_equal_to_nan(self):
        import pyarrow as pa
        nan = pa.table({"x": [float("nan")]})
        self.assertEqual(run.digest(nan), run.digest(pa.table({"x": [float("nan")]})))


def main():
    build.build()
    work = build.OUT / "selftest"
    work.mkdir(parents=True, exist_ok=True)
    jvm = subprocess.run(run.java_cmd(work, ["selftest", str(work), "2"]), cwd=work,
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    print(jvm.stdout, end="")
    py = unittest.main(argv=[sys.argv[0]], exit=False).result
    sys.exit(0 if jvm.returncode == 0 and py.wasSuccessful() else 1)


if __name__ == "__main__":
    main()
