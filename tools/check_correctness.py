#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: after `sbt "runMain graft.Verify <sfDir> <outDir>"`, run
    python3 tools/check_correctness.py <sfDir> <outDir>

For each query result parquet in <outDir>, runs the matching SQL from
oracle_sql.json in DuckDB over the same tables, canonicalizes both sides
(sort columns by name, sort rows), and compares values cell-by-cell.

    python3 tools/check_correctness.py --against <otherOutDir> <outDir>

compares two Verify dumps result by result instead — every dumped query,
the property-checked ones included — with the same canonicalization, and
prints `N equal, M differ` and the names that differ.
"""
import json
import math
import os
import sys

import duckdb


def canon(con, rel_sql):
    rows = con.execute(rel_sql).fetchall()
    cols = [d[0] for d in con.execute(rel_sql).description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], out


def cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def mismatch(got_cols, got, exp_cols, exp):
    """None when both canonical results are equal, else why they differ."""
    if got_cols != exp_cols:
        return f"columns {got_cols} != {exp_cols}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for i, (g, e) in enumerate(zip(got, exp)):
        if not all(cells_equal(x, y) for x, y in zip(g, e)):
            return f"row {i}\n  got {g}\n  exp {e}"
    return None


def connect(sf_dir):
    con = duckdb.connect()
    # bounded memory + disk spill: one long-lived connection running ~80
    # oracle queries back-to-back can transiently exhaust the machine on
    # the heavy CTE oracles (observed as 4-16 KB allocation failures);
    # with a cap DuckDB spills instead of dying
    con.execute("SET memory_limit='16GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# Proactively cycle the DuckDB connection every N oracles: one long-lived
# connection accumulates temp/catalog state across ~156 queries and the r15
# driver run died to a memory-pressure cascade (allocation failures down to
# 2 KB from q_proto_prune onward). Reconnecting releases everything the
# previous batch left resident; the views are recreated cheaply.
RECONNECT_EVERY = 12


def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_run = 0
    for name, sql in sorted(oracles.items()):
        if n_run and n_run % RECONNECT_EVERY == 0:
            con.close()
            con = connect(sf_dir)
        n_run += 1
        try:
            try:
                got_cols, got = canon(
                    con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
                exp_cols, exp = canon(con, sql)
            except duckdb.Error:
                # retry once on a fresh connection: frees whatever the
                # previous oracles left resident
                con.close()
                con = connect(sf_dir)
                got_cols, got = canon(
                    con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
                exp_cols, exp = canon(con, sql)
        except Exception as e:
            print(f"FAIL {name}: exception {e}", flush=True)
            n_fail += 1
            continue
        bad = mismatch(got_cols, got, exp_cols, exp)
        if bad:
            print(f"FAIL {name}: {bad}", flush=True)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)", flush=True)
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


def results(out_dir):
    """query name -> its result parquet dir, or None for an .error marker"""
    found = {}
    for entry in os.listdir(out_dir):
        path = os.path.join(out_dir, entry)
        if entry.endswith(".error"):
            found.setdefault(entry[:-len(".error")], None)
        elif os.path.isdir(path):
            found[entry] = path
    return found


def against(other_dir, out_dir):
    con = duckdb.connect()
    mine, theirs = results(out_dir), results(other_dir)
    differ = []
    for name in sorted(set(mine) | set(theirs)):
        a, b = mine.get(name), theirs.get(name)
        if a is None or b is None:
            bad = f"no result in {out_dir if a is None else other_dir}"
        else:
            bad = mismatch(*canon(con, f"SELECT * FROM '{a}/*.parquet'"),
                           *canon(con, f"SELECT * FROM '{b}/*.parquet'"))
        if bad:
            print(f"DIFFER {name}: {bad}", flush=True)
            differ.append(name)
    n_equal = len(set(mine) | set(theirs)) - len(differ)
    print(f"\n{n_equal} equal, {len(differ)} differ")
    if differ:
        print("differ: " + ", ".join(differ))
    return 1 if differ else 0


if __name__ == "__main__":
    if sys.argv[1] == "--against":
        sys.exit(against(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
