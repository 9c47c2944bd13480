#!/usr/bin/env python3
"""Compare the gate results of two graft.Verify dumps, gate by gate.

Usage: python3 tools/gate_diff.py <verifyA> <verifyB> [gate ...]

For each gate (default: every gate directory in either dump) it reads
<dump>/<gate>/*.parquet on both sides with DuckDB, compares the schemas
(column names, order and types), then the rows as multisets with
EXCEPT ALL in both directions, and prints one line per gate:

  SAME     <gate>                      same schema, same rows
  DIFF a/b <gate>  schema ...          the schemas differ
  DIFF a/b <gate>  <x> only in A, ...  rows differ (counted per side)
  MISSING  <gate>  ...                 no parquet on one side

It exits 1 unless every gate is SAME. Floating-point values compare
exactly, so SAME means bit-identical results.
"""
import glob
import os
import sys

import duckdb


def parquet(dump, gate):
    files = sorted(glob.glob(os.path.join(dump, gate, "*.parquet")))
    if not files:
        return None
    return "read_parquet([" + ", ".join(
        "'" + f.replace("'", "''") + "'" for f in files) + "])"


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__.strip().splitlines()[2])
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    gates = sys.argv[3:] or sorted(
        {d for root in (a_dir, b_dir) if os.path.isdir(root)
         for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))})
    con = duckdb.connect()
    same = 0
    for gate in gates:
        a, b = parquet(a_dir, gate), parquet(b_dir, gate)
        if a is None or b is None:
            side = " and ".join(
                name for name, src in (("A", a), ("B", b)) if src is None)
            print(f"MISSING  {gate}  no parquet in {side}")
            continue
        schema_a = con.sql(f"DESCRIBE SELECT * FROM {a}").fetchall()
        schema_b = con.sql(f"DESCRIBE SELECT * FROM {b}").fetchall()
        cols_a = [(r[0], r[1]) for r in schema_a]
        cols_b = [(r[0], r[1]) for r in schema_b]
        if cols_a != cols_b:
            print(f"DIFF a/b {gate}  schema {cols_a} vs {cols_b}")
            continue
        only_a = con.sql(
            f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL "
            f"SELECT * FROM {b})").fetchone()[0]
        only_b = con.sql(
            f"SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL "
            f"SELECT * FROM {a})").fetchone()[0]
        if only_a or only_b:
            print(f"DIFF a/b {gate}  {only_a} rows only in A, "
                  f"{only_b} only in B")
            continue
        rows = con.sql(f"SELECT count(*) FROM {a}").fetchone()[0]
        print(f"SAME     {gate}  ({rows} rows)")
        same += 1
    print(f"\n{same} of {len(gates)} gates SAME")
    sys.exit(0 if same == len(gates) else 1)


if __name__ == "__main__":
    main()
