#!/usr/bin/env python3
"""Parent-vs-change check of two graft.Verify output directories.

Usage: python3 tools/compare_outputs.py <parentOut> <changeOut>

For every query directory under either tree, load both Spark parquet
results in DuckDB and compare them with the typed rules of
check_correctness.py: column types canonicalized from DESCRIBE
(canon_type), rows normalized and sorted (norm_rows: ints, bitwise
floats, decimals by representation). A query missing from one side
differs. Prints the queries that differ and exits 1 if any does.

The queries whose oracle SQL differs between the two oracle_sql.json
files are listed too, for information; they do not fail the check.
"""
import glob
import json
import os
import sys

import duckdb

from check_correctness import canon_type, norm_rows


def query_dirs(out_dir):
    return {os.path.basename(d) for d in glob.glob(f"{out_dir}/q_*")}


def load(con, out_dir, q):
    src = f"'{out_dir}/{q}/*.parquet'"
    types = sorted((r[0], canon_type(r[1])) for r in
                   con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall())
    res = con.execute(f"SELECT * FROM {src}")
    cols = [d[0] for d in res.description]
    return types, norm_rows(cols, res.fetchall())


def oracle_diffs(parent, change):
    def read(out_dir):
        path = f"{out_dir}/oracle_sql.json"
        return json.load(open(path)) if os.path.exists(path) else {}
    a, b = read(parent), read(change)
    return sorted(q for q in set(a) | set(b) if a.get(q) != b.get(q))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    in_parent, in_change = query_dirs(parent), query_dirs(change)
    differ = []
    for q in sorted(in_parent | in_change):
        if q not in in_parent or q not in in_change:
            side = "parent" if q in in_parent else "change"
            differ.append(f"{q}: only in the {side} output")
            continue
        try:
            (pt, (pc, pr)), (ct, (cc, cr)) = (load(con, parent, q),
                                              load(con, change, q))
        except duckdb.Error as e:
            differ.append(f"{q}: unreadable: {e}")
            continue
        if pt != ct:
            differ.append(f"{q}: column types {pt} vs {ct}")
        elif pr != cr:
            differ.append(f"{q}: rows differ ({len(pr)} vs {len(cr)} rows)")
    print(f"{len(in_parent | in_change)} queries compared, "
          f"{len(differ)} differ")
    for line in differ:
        print(f"DIFF {line}")
    for q in oracle_diffs(parent, change):
        print(f"ORACLE-SQL-CHANGED {q}")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
