#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate: load each Verify output
parquet, run the corresponding oracle SQL in DuckDB over the same sf tables,
sort columns by name + rows, and compare values (hash-style)."""
import sys, json, glob, os
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/vout"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails = 0
# an oracle with no output means its query threw (Verify writes no directory for a
# failed query): that is a failure, never a skip
for name in sorted(oracle):
    if not os.path.isdir(f"{out_dir}/{name}"):
        print(f"{name}: NO OUTPUT (the query failed or did not run)")
        fails += 1
for qdir in sorted(glob.glob(f"{out_dir}/q*")):
    name = os.path.basename(qdir)
    spark_df = duckdb.connect().execute(f"SELECT * FROM '{qdir}/*.parquet'").df()
    if name not in oracle:
        print(f"{name}: rows-only ({len(spark_df)} rows)" +
              ("  [WARN empty]" if len(spark_df) == 0 else ""))
        continue
    try:
        oracle_df = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {str(e)[:200]}")
        fails += 1
        continue
    a, b = canon(spark_df), canon(oracle_df)
    if list(a.columns) != list(b.columns):
        print(f"{name}: SCHEMA MISMATCH spark={list(a.columns)} oracle={list(b.columns)}")
        fails += 1
        continue
    if len(a) != len(b):
        print(f"{name}: ROWCOUNT MISMATCH spark={len(a)} oracle={len(b)}")
        fails += 1
        continue
    # dtype-tolerant value compare
    eq = True
    for c in a.columns:
        x, y = a[c], b[c]
        try:
            import numpy as np
            if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
                ok = np.allclose(x.astype(float), y.astype(float), rtol=0, atol=0, equal_nan=True)
            else:
                ok = (x.astype(str) == y.astype(str)).all()
        except Exception:
            ok = False
        if not ok:
            eq = False
            m = (x.astype(str) != y.astype(str))
            idx = m[m].index[:3]
            print(f"{name}: VALUE MISMATCH col={c} e.g. spark={list(x[idx])} oracle={list(y[idx])}")
    if eq:
        print(f"{name}: OK ({len(a)} rows)" + ("  [WARN empty]" if len(a) == 0 else ""))
    else:
        fails += 1
print(f"\n{'FAIL' if fails else 'PASS'} ({fails} failures)")
sys.exit(1 if fails else 0)
