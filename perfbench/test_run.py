#!/usr/bin/env python3
"""Tests of the benchmark's own checks: failures are loud.

    python3 perfbench/test_run.py

A planted throwing statement and a planted wrong result must each make a
run of every gated workload exit non-zero with "correct": false and the
statement counted as failed but still attempted; on lake-dml, a planted
write that the DuckDB replay does not make must fail the final-contents
check. The row comparison itself is tested directly.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(workload, inject):
    """One short run with a planted failure: (exit code, result line,
    failure notes from the run's artifact)."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "5", "--seconds", "1", "--trace", "0",
         "--inject", inject],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
        timeout=900)
    with open(os.path.join(HERE, "work", "artifacts",
                           f"run-{workload}-5-t0.json")) as f:
        notes = json.load(f)["failures"]
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1]), notes


class InjectedFailures(unittest.TestCase):

    def assert_fails(self, workload, inject, exactly_one=True):
        rc, out, notes = bench(workload, inject)
        self.assertNotEqual(rc, 0)
        self.assertFalse(out["correct"])
        if exactly_one:
            self.assertEqual(out["failed"], 1, notes)
        self.assertGreaterEqual(out["failed"], 1)
        self.assertGreater(out["attempted"], out["failed"])
        return notes

    def test_throwing_statement_fails_the_run(self):
        # Exactly one failure: the planted statement leaves every other
        # statement's run index, and so every VERSION AS OF read, intact.
        for w in run.GATED:
            with self.subTest(workload=w):
                self.assert_fails(w, "throw")

    def test_wrong_result_fails_the_run(self):
        for w in run.GATED:
            with self.subTest(workload=w):
                self.assert_fails(w, "wrong")

    def test_write_the_replay_does_not_make_fails_the_run(self):
        notes = self.assert_fails("lake-dml", "drift", exactly_one=False)
        self.assertTrue(any(n.startswith("final contents of d_orders")
                            for n in notes), notes)


class BenchmarkFile(unittest.TestCase):

    def test_benchmark_json_matches_the_metrics_the_command_prints(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], run.GATED)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.E2E)
        for w in run.GATED:
            self.assertEqual(
                [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                run.layer_spec(w))


class RowComparison(unittest.TestCase):

    def test_rows_compare_as_multisets_with_float_tolerance(self):
        self.assertIsNone(run.diff_rows(
            ["a", "b"], [[2, 0.1 + 0.2], [1, "x"]],
            ["b", "a"], [("x", 1), (0.3, 2)]))

    def test_a_changed_value_or_row_count_is_a_difference(self):
        self.assertIsNotNone(run.diff_rows(["a"], [[1]], ["a"], [(2,)]))
        self.assertIsNotNone(run.diff_rows(["a"], [[1]], ["a"], []))
        self.assertIsNotNone(run.diff_rows(["a"], [[1]], ["b"], [(1,)]))

    def test_tables_compare_as_multisets_by_column_name(self):
        import duckdb
        con = duckdb.connect()
        con.execute("CREATE TABLE w AS SELECT * FROM (VALUES (1, 'x'), "
                    "(1, 'x'), (2, 'y')) t(a, b)")
        con.execute("CREATE TABLE same AS SELECT b, a FROM w")
        con.execute("CREATE TABLE dup AS SELECT * FROM w UNION ALL "
                    "SELECT 2, 'y'")
        con.execute("CREATE TABLE changed AS SELECT a, "
                    "CASE WHEN a = 2 THEN 'z' ELSE b END AS b FROM w")
        self.assertIsNone(run.diff_tables(con, "same", "w"))
        self.assertIsNotNone(run.diff_tables(con, "dup", "w"))
        self.assertIsNotNone(run.diff_tables(con, "changed", "w"))
        self.assertIsNotNone(run.diff_tables(con, "(SELECT a FROM w)", "w"))

    def test_duckdb_values_take_the_engine_forms(self):
        import datetime
        import decimal
        self.assertEqual(run.canon(datetime.datetime(1995, 3, 1, 2, 3, 4)),
                         "1995-03-01 02:03:04")
        self.assertEqual(run.canon(decimal.Decimal("1.50")), 1.5)
        self.assertEqual(run.canon({"b": 2, "a": 1}), [["a", 1], ["b", 2]])


if __name__ == "__main__":
    unittest.main()
