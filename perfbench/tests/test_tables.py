"""Tests of the query-suite table generator and its DuckDB result check.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import tables  # noqa: E402


class TablesTest(unittest.TestCase):
    def test_same_seed_same_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            tables.write(a, 3)
            tables.write(b, 3)
            for t in tables.TABLES:
                with open(os.path.join(a, f"{t}.parquet"), "rb") as fa, \
                        open(os.path.join(b, f"{t}.parquet"), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), t)

    def test_other_seed_other_rows(self):
        a, b = tables.build(3), tables.build(4)
        self.assertNotEqual(a["lineitem"].to_pylist()[:50], b["lineitem"].to_pylist()[:50])
        self.assertEqual(a["lineitem"].schema, b["lineitem"].schema)

    def test_result_check_ignores_row_and_column_order(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            tables.write(d, 1)
            con = oracle.connect(d, tables.TABLES)
            rows = con.execute("SELECT n_regionkey, n_name FROM nation ORDER BY n_name DESC").fetchall()
            out = os.path.join(d, "result")
            os.makedirs(out)
            pq.write_table(pa.table({"n_regionkey": [r[0] for r in rows],
                                     "n_name": [r[1] for r in rows]}),
                           os.path.join(out, "part-0.parquet"))
            self.assertIsNone(oracle.mismatch(con, out, "SELECT n_name, n_regionkey FROM nation ORDER BY 1"))
            self.assertIn("row", oracle.mismatch(
                con, out, "SELECT n_name, n_regionkey + 1 AS n_regionkey FROM nation"))
            self.assertIn("rows", oracle.mismatch(con, out, "SELECT n_name, n_regionkey FROM nation LIMIT 3"))


if __name__ == "__main__":
    unittest.main()
