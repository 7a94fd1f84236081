#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: compare Verify output
parquet against DuckDB executing SparkEntry.oracleSql on the same tables.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        na_position="first", kind="mergesort")
    return df

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            # Spark-written replica tables are directories of part files
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        rdir = f"{out_dir}/{name}"
        if not os.path.isdir(rdir):
            print(f"FAIL {name}: no spark result dir"); n_fail += 1; continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in
                                  sorted(glob.glob(f"{rdir}/*.parquet"))],
                                 ignore_index=True)
            duck_df = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} != {list(b.columns)}")
            n_fail += 1; continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} != {len(b)}"); n_fail += 1; continue
        # dtype check (schema match)
        dt_mismatch = [(c, str(a[c].dtype), str(b[c].dtype))
                       for c in a.columns if str(a[c].dtype) != str(b[c].dtype)]
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                          check_exact=True)
        except AssertionError as e:
            print(f"FAIL {name}: values differ: {str(e)[:300]}")
            n_fail += 1; continue
        note = f" (dtype diff: {dt_mismatch})" if dt_mismatch else ""
        print(f"PASS {name} ({len(a)} rows){note}"); n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
