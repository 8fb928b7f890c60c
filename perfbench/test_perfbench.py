"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The corrupted-expectation tests build the harness and make one short run
of each workload (about two minutes on 4 cores); the others are pure
Python.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402
import oracle  # noqa: E402


def run(workload, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", "3", "--trace", "0", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class CorruptedExpectationIsCounted(unittest.TestCase):
    def check(self, workload, every):
        res = run(workload, "--corrupt-every", str(every))
        corrupted = (res["attempted"] + every - 1) // every
        self.assertEqual(res["failed"], corrupted, res)
        self.assertFalse(res["correct"])

    def test_wx_serve(self):
        self.check("wx_serve", 3)

    def test_wx_ingest(self):
        self.check("wx_ingest", 1)

    def test_fixpoint(self):
        self.check("fixpoint", 1)


class OracleCompare(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 0.5, 'a'), (2, 1.25, 'b')) v(id, x, s)")

    def test_same_rows_in_another_order_match(self):
        self.assertIsNone(oracle.compare(
            self.con, "SELECT s, x, id FROM t ORDER BY id DESC", "SELECT id, x, s FROM t"))

    def test_a_wrong_value_is_reported(self):
        msg = oracle.compare(self.con, "SELECT id, x + 1e-6 AS x, s FROM t", "SELECT id, x, s FROM t")
        self.assertIn("!= oracle", msg)

    def test_a_missing_row_is_reported(self):
        msg = oracle.compare(self.con, "SELECT * FROM t WHERE id = 1", "SELECT * FROM t")
        self.assertIn("1 rows != oracle 2", msg)

    def test_an_empty_oracle_proves_nothing(self):
        msg = oracle.compare(self.con, "SELECT * FROM t WHERE id < 0", "SELECT * FROM t WHERE id < 0")
        self.assertIn("no rows", msg)


class StampRefusal(unittest.TestCase):
    def result(self, **stamp):
        base = {"workload": "wx_serve", "nproc": 4, "cores_used": 4, "xmx_mb": 4096,
                "java": "17", "spark": "4.1.2", "inputs": {"locations": 12.0},
                "seconds": 10.0, "trace": 0, "seed": 1, "git_head": "a",
                "loadavg_start": [0, 0, 0], "loadavg_end": [0, 0, 0]}
        base.update(stamp)
        return {"stamp": base,
                "result": {"metrics": {"op_ms": {"value": 100.0, "unit": "ms"}}}}

    def compare(self, a, b):
        with tempfile.TemporaryDirectory() as d:
            pa, pb = os.path.join(d, "a.json"), os.path.join(d, "b.json")
            for p, r in ((pa, a), (pb, b)):
                with open(p, "w") as fh:
                    json.dump(r, fh)
            return compare.main(["compare.py", pa, pb])

    def test_another_commit_and_seed_compare(self):
        self.assertEqual(self.compare(self.result(), self.result(git_head="b", seed=2)), 0)

    def test_another_core_count_is_refused(self):
        self.assertEqual(self.compare(self.result(), self.result(cores_used=32)), 3)

    def test_another_input_size_is_refused(self):
        self.assertEqual(self.compare(self.result(), self.result(inputs={"locations": 64.0})), 3)


if __name__ == "__main__":
    unittest.main()
