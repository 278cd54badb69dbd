"""DuckDB side of the query-suite correctness check.

The benchmark JVM writes each distinct result of a query as parquet;
`mismatch` compares it with DuckDB running the query's `SparkEntry.oracleSql`
over the same tables, in the canonical form and with the cell comparison of
the repository's own checker (tools/check_correctness.py).
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_correctness import canon, cells_equal  # noqa: E402


def connect(table_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


def mismatch(con, result_dir, sql):
    """None when the parquet result in `result_dir` equals what `sql` gives
    in any row order, else how the two differ."""
    got_cols, got = canon(con, f"SELECT * FROM '{result_dir}/*.parquet'")
    exp_cols, exp = canon(con, sql)
    if got_cols != exp_cols:
        return f"columns {got_cols} != {exp_cols}"
    if len(got) != len(exp):
        return f"{len(got)} rows != {len(exp)}"
    for i, (g, e) in enumerate(zip(got, exp)):
        if not all(cells_equal(x, y) for x, y in zip(g, e)):
            return f"row {i}: got {g}, expected {e}"
    return None
