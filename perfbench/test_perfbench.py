#!/usr/bin/env python3
"""The benchmark's own tests. Run from the checkout root:

    python3 perfbench/test_perfbench.py

They check that a seed fixes the operation log byte for byte, that the
Python fingerprint writes values the way the JVM one does, the
percentile estimator, and that the timed action keeps q27's projections
and sort in the executed plan.
"""
import sys

sys.dont_write_bytecode = True

import datetime  # noqa: E402
import decimal  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import unittest  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oplog  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

ROOT = os.getcwd()


class OperationLogTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.data = run.ensure_data(ROOT)

    def test_same_seed_gives_identical_log(self):
        for w in run.WORKLOADS:
            a = oplog.generate(w, 7, self.data)
            b = oplog.generate(w, 7, self.data)
            self.assertEqual(a.encode(), b.encode(), w)
            self.assertNotEqual(a, oplog.generate(w, 8, self.data), w)

    def test_query_sweeps_are_seeded_permutations(self):
        lines = oplog.generate("queries", 3, self.data).splitlines()
        sweeps, cur = [], None
        for line in lines:
            if line.startswith(("warmup\t", "cycle\t")):
                cur = []
                sweeps.append(cur)
            else:
                cur.append(line.split("\t")[1])
        names = sorted(q for q, _ in oplog.QUERIES)
        self.assertTrue(all(sorted(s) == names for s in sweeps))
        self.assertGreater(len({tuple(s) for s in sweeps}), 1)

    def test_churn_deletes_only_live_ids_once(self):
        live = {d for d in range(5000) if d % 2 == 0}
        for line in oplog.generate("index_churn", 5, self.data).splitlines():
            f = line.split("\t")
            if f[0] == "append_docs":
                ids = {int(x) for x in f[1].split(",")}
                self.assertFalse(ids & live)
                live |= ids
            elif f[0] == "delete_docs":
                ids = {int(x) for x in f[1].split(",")}
                self.assertTrue(ids <= live)
                live -= ids


class FingerprintTest(unittest.TestCase):
    def test_numbers_are_exact_double_images(self):
        self.assertEqual(oracle.canon(3), "3")
        self.assertEqual(oracle.canon(3.0), "3")
        self.assertEqual(oracle.canon(-0.0), "0")
        self.assertEqual(oracle.canon(0.1), "0.1000000000000000055511151231257827021181583404541015625")
        self.assertEqual(oracle.canon(decimal.Decimal("0.10")), oracle.canon(0.1))
        self.assertEqual(oracle.canon(450147.38), "450147.380000000004656612873077392578125")

    def test_other_values(self):
        self.assertEqual(oracle.canon(None), "\\N")
        self.assertEqual(oracle.canon(True), "true")
        self.assertEqual(oracle.canon(datetime.datetime(1998, 11, 8)), "1998-11-08 00:00:00.000000")
        self.assertEqual(oracle.canon(datetime.date(1998, 11, 8)), "1998-11-08")
        self.assertEqual(oracle.canon([1, None, "a"]), "[1,\\N,a]")
        self.assertEqual(oracle.canon(b"\x01\xff"), "01ff")

    def test_fingerprint_ignores_row_and_column_order(self):
        a = oracle.fingerprint(["b", "a"], [(1, "x"), (2, "y")])
        b = oracle.fingerprint(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.fingerprint(["a", "b"], [("y", 2)]))


class PercentileTest(unittest.TestCase):
    def test_incomplete_beta(self):
        self.assertAlmostEqual(run.betainc(1, 1, 0.3), 0.3, places=12)
        self.assertAlmostEqual(run.betainc(5, 5, 0.5), 0.5, places=12)
        self.assertAlmostEqual(run.betainc(2.5, 0.7, 0.9), 0.6239321729, places=9)

    def test_harrell_davis(self):
        self.assertEqual(run.percentile([], 50), 0.0)
        self.assertEqual(run.percentile([5.0], 90), 5.0)
        self.assertAlmostEqual(run.percentile([3.0, 1.0, 2.0], 50), 2.0, places=12)
        self.assertAlmostEqual(run.percentile(list(range(1, 101)), 90), 90.5, places=6)


class TimedActionPlanTest(unittest.TestCase):
    def test_q27_projections_and_sort_stay_in_the_executed_plan(self):
        data = run.ensure_data(ROOT)
        classpath = build.build(ROOT)
        work = os.path.join(ROOT, ".bench_run", f"plancheck-{os.getpid()}")
        os.makedirs(os.path.join(work, "tmp"))
        try:
            r = subprocess.run(build.java_command(work, classpath) + ["perfbench.PlanCheck", data],
                               capture_output=True, text=True, cwd=work, timeout=300)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        self.assertIn("plan-check ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
