"""Tests of perfbench/run.py that need no benchmark-scale input.

    python3 -m unittest perfbench/test_run.py     (from the repository root)
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = os.path.join(os.environ.get("GRAFT_TESTDATA",
                                     os.path.expanduser("~/testdata")), "sf0.001")
SQL = ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
       "count(*) AS cnt FROM lineitem GROUP BY 1, 2")


@unittest.skipUnless(os.path.isdir(TABLES), "test tables not found")
class EtlOracleTest(unittest.TestCase):
    """The etl check passes files equal to DuckDB's answer and rejects a
    deliberately wrong one."""

    def setUp(self):
        import duckdb
        self.out = tempfile.mkdtemp(prefix="perfbench-oracle-")
        con = duckdb.connect()
        con.sql("CREATE VIEW lineitem AS SELECT * FROM '%s/lineitem.parquet'" % TABLES)
        self.df = con.sql(SQL).df()
        os.makedirs(os.path.join(self.out, "q01_test"))
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as fh:
            json.dump({"q01_test": SQL}, fh)

    def tearDown(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def write(self, df):
        df.to_parquet(os.path.join(self.out, "q01_test", "part-0.parquet"))

    def test_equal_files_pass(self):
        self.write(self.df)
        self.assertTrue(run.oracle(ROOT, TABLES, self.out, 1))

    def test_a_wrong_value_fails(self):
        wrong = self.df.copy()
        wrong.loc[0, "cnt"] += 1
        self.write(wrong)
        self.assertFalse(run.oracle(ROOT, TABLES, self.out, 1))

    def test_a_missing_query_fails(self):
        self.write(self.df)
        self.assertFalse(run.oracle(ROOT, TABLES, self.out, 2))


class RunnerTest(unittest.TestCase):

    def test_heap_is_clamped(self):
        self.assertRegex(run.heap(), r"^[2-8]g$")

    def test_refuses_a_directory_without_the_engine(self):
        d = tempfile.mkdtemp(prefix="perfbench-empty-")
        try:
            os.makedirs(os.path.join(d, "perfbench"))
            shutil.copy(os.path.join(ROOT, "perfbench", "run.py"),
                        os.path.join(d, "perfbench"))
            import subprocess
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "etl", "--seed", "1", "--seconds", "1"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
