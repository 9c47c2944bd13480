#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate.

Usage: python3 tools/oracle_check.py <sfdir> <verify_out_dir>

Reads each <verify_out_dir>/<name>/ parquet (written by graft.Verify),
runs the matching SQL from oracle_sql.json in DuckDB over the same
parquet tables, sorts columns by name + rows by value, and compares.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize list/array cells to tuples so sorting/compare works
    for c in df.columns:
        if df[c].map(lambda x: isinstance(x, (list, tuple)) or
                     str(type(x)).find("ndarray") >= 0).any():
            df[c] = df[c].map(lambda x: tuple(x) if x is not None else None)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(outdir)
                   if os.path.isdir(os.path.join(outdir, d)))
    n_pass = n_fail = 0
    for name in names:
        files = glob.glob(os.path.join(outdir, name, "*.parquet"))
        if not files:
            print(f"FAIL  {name}: no parquet written"); n_fail += 1; continue
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        if name not in oracle:
            print(f"FAIL  {name}: no oracle_sql.json entry")
            n_fail += 1; continue
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {str(e).splitlines()[0][:160]}")
            n_fail += 1; continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1; continue
        # Dtype guard: the driver hashes RENDERED values, so an oracle
        # column that materializes as float64 (e.g. DuckDB HUGEINT from an
        # uncast sum()) against a Spark integer column renders "15004.0"
        # vs "15004" — identical values, hash mismatch. Catch it here.
        dtype_bad = [
            c for c in a.columns
            if (pd.api.types.is_float_dtype(b[c])
                and pd.api.types.is_integer_dtype(a[c]))
            or (pd.api.types.is_float_dtype(a[c])
                and pd.api.types.is_integer_dtype(b[c]))
        ]
        if dtype_bad:
            print(f"FAIL  {name}: int/float dtype mismatch (driver hash "
                  f"would fail): "
                  + ", ".join(f"{c} spark={a[c].dtype} duck={b[c].dtype}"
                              for c in dtype_bad)
                  + " — cast the oracle expression (::BIGINT) or the "
                    "Spark column so both sides agree")
            n_fail += 1; continue
        if len(a) != len(b):
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                          check_exact=False, rtol=0, atol=1e-9)
            print(f"pass  {name} ({len(a)} rows)"); n_pass += 1
        except AssertionError as e:
            print(f"FAIL  {name}: value mismatch: {str(e).splitlines()[-1][:200]}")
            # show first differing rows
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            if bad.any():
                i = bad.idxmax()
                print(f"      spark: {a.loc[i].to_dict()}")
                print(f"      duck : {b.loc[i].to_dict()}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} FAIL")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
