"""The output check catches a corrupted expected value.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import oracle  # noqa: E402
import run  # noqa: E402

SPEC = {"end_to_end": [], "per_layer": []}


def record(rows):
    """A one-pass record of two ops, `a` returning `rows` rows."""
    ops = [{"name": "a", "kind": "kernel", "ms": 10.0, "rows": rows, "error": None},
           {"name": "b", "kind": "kernel", "ms": 20.0, "rows": 5, "error": None}]
    return {"passes": [{"traced": False, "ms": 30.0, "ops": ops}], "setup_s": 1.0,
            "rows_per_pass": 100, "peak_rss_mb": 1.0}


class PinCheck(unittest.TestCase):
    def test_matching_pin_passes(self):
        self.assertIsNone(oracle.compare_pin((7, 12345), [7, 12345]))

    def test_corrupted_hash_is_caught(self):
        self.assertIsNotNone(oracle.compare_pin((7, 12345), [7, 12346]))

    def test_corrupted_row_count_is_caught(self):
        self.assertIsNotNone(oracle.compare_pin((7, 12345), [8, 12345]))

    def test_missing_pin_is_caught(self):
        self.assertIsNotNone(oracle.compare_pin((7, 12345), None))


class OracleCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        d = self.dir.name
        os.makedirs(os.path.join(d, "in", "t.parquet"))
        os.makedirs(os.path.join(d, "res"))
        frame = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
        frame.to_parquet(os.path.join(d, "in", "t.parquet", "part-0.parquet"))
        frame.iloc[::-1].to_parquet(os.path.join(d, "res", "part-0.parquet"))
        self.con = oracle.connect(os.path.join(d, "in"))

    def tearDown(self):
        self.dir.cleanup()

    def check(self, sql):
        want = self.con.execute(sql).df()
        return oracle.compare_frames(oracle.read_result(os.path.join(self.dir.name, "res")), want)

    def test_same_rows_in_another_order_pass(self):
        self.assertIsNone(self.check("SELECT k, v FROM t"))

    def test_corrupted_value_is_caught(self):
        self.assertIsNotNone(self.check(
            "SELECT k, CASE WHEN k = 2 THEN v + 1e-6 ELSE v END AS v FROM t"))

    def test_missing_row_is_caught(self):
        self.assertIsNotNone(self.check("SELECT k, v FROM t WHERE k < 3"))

    def test_int_vs_float_is_caught(self):
        self.assertIsNotNone(self.check("SELECT k, CAST(v * 2 AS BIGINT) AS v FROM t"))


class FailedOps(unittest.TestCase):
    def test_wrong_output_fails_every_run_of_the_op(self):
        _, _, failed, attempted = run.metrics(record(3), {"a": 3, "b": 5}, {"a": "hash"}, SPEC)
        self.assertEqual((failed, attempted), (1, 2))

    def test_wrong_row_count_fails_the_op(self):
        _, _, failed, _ = run.metrics(record(4), {"a": 3, "b": 5}, {}, SPEC)
        self.assertEqual(failed, 1)

    def test_correct_run_has_no_failures(self):
        _, _, failed, _ = run.metrics(record(3), {"a": 3, "b": 5}, {}, SPEC)
        self.assertEqual(failed, 0)


if __name__ == "__main__":
    unittest.main()
