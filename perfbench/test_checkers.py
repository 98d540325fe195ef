"""The benchmark's own tests: every output checker must count a known-bad
output as failed.

    python3 perfbench/test_checkers.py

Runs the query checker's cases here and the ingest and stream checkers'
cases in the harness (perfbench.CheckerTests), building it first if needed.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import oracle_check  # noqa: E402
import run  # noqa: E402

SQL = ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q "
       "FROM lineitem GROUP BY 1, 2")


class OracleCheck(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.BUILD, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.BUILD)
        self.data = os.path.join(self.tmp, "data")
        gen_tables.write(self.data, 3, 0.001)
        self.results = os.path.join(self.tmp, "results")
        os.makedirs(os.path.join(self.results, "q_test"))
        with open(os.path.join(self.results, "oracle_sql.json"), "w") as fh:
            json.dump({"q_test": SQL}, fh)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def dump(self, sql):
        con = duckdb.connect()
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{self.data}/lineitem.parquet'")
        con.sql(f"COPY ({sql}) TO '{self.results}/q_test/part-0.parquet' (FORMAT PARQUET)")
        con.close()

    def verdict(self):
        return oracle_check.check(run.ROOT, self.data, self.results, ["q_test"])["q_test"]

    def test_matching_result_passes(self):
        self.dump(SQL)
        self.assertIsNone(self.verdict())

    def test_one_altered_row_fails(self):
        self.dump(f"SELECT l_returnflag, l_linestatus, "
                  f"CASE WHEN l_returnflag = 'A' AND l_linestatus = 'F' THEN n + 1 ELSE n END AS n, q "
                  f"FROM ({SQL})")
        self.assertEqual(self.verdict(), "values differ")

    def test_missing_row_fails(self):
        self.dump(f"SELECT * FROM ({SQL}) WHERE l_returnflag <> 'R' OR l_linestatus <> 'O'")
        self.assertIsNotNone(self.verdict())

    def test_missing_result_fails(self):
        self.assertEqual(self.verdict(), "no result")


class HarnessCheckers(unittest.TestCase):
    def test_ingest_and_stream_checkers_bite(self):
        r = subprocess.run(["java", "-Xmx1g", "-cp", run.classpath(), "perfbench.CheckerTests"],
                           capture_output=True, text=True, timeout=300)
        sys.stdout.write(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
