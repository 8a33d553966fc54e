#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables, load the Spark-side parquet dump, and
compare schema + sorted values exactly. Usage:
    python3 tools/selfcheck.py <sfDir> <outDir> [query ...]
"""
import sys, glob, os
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[: -len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

import json
with open(f"{out_dir}/oracle_sql.json") as f:
    oracles = json.load(f)

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)

fail = ok = skip = 0
# a query the oracle expects but Verify wrote no output for (it threw)
# is a failure, not a silent drop from the tally
present = {os.path.basename(q.rstrip("/")) for q in glob.glob(f"{out_dir}/*/")}
for name in sorted(set(oracles) - present):
    if only and name not in only:
        continue
    print(f"[MISSING] {name}: no output directory")
    fail += 1

for qdir in sorted(glob.glob(f"{out_dir}/*/")):
    name = os.path.basename(qdir.rstrip("/"))
    if only and name not in only:
        continue
    try:
        spark_df = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')").fetchdf()
    except Exception as e:
        print(f"[READ-FAIL] {name}: {e}")
        fail += 1
        continue
    if name not in oracles:
        print(f"[ROWS-ONLY] {name}: {len(spark_df)} rows")
        skip += 1
        continue
    try:
        oracle_df = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        print(f"[ORACLE-FAIL] {name}: {e}")
        fail += 1
        continue
    a, b = canon(spark_df), canon(oracle_df)
    if list(a.columns) != list(b.columns):
        print(f"[SCHEMA-MISMATCH] {name}: spark={list(a.columns)} oracle={list(b.columns)}")
        fail += 1
        continue
    if len(a) != len(b):
        print(f"[ROWCOUNT-MISMATCH] {name}: spark={len(a)} oracle={len(b)}")
        fail += 1
        continue
    # dtype check (loose: compare pandas dtype kinds)
    dt_a = [str(t) for t in a.dtypes]
    dt_b = [str(t) for t in b.dtypes]
    if dt_a != dt_b:
        print(f"[DTYPE-MISMATCH] {name}: spark={dt_a} oracle={dt_b}")
        fail += 1
        continue
    if not a.equals(b):
        neq = (a != b) & ~(a.isna() & b.isna())
        bad = neq.any(axis=1)
        print(f"[VALUE-MISMATCH] {name}: {bad.sum()}/{len(a)} rows differ; first:")
        idx = bad[bad].index[:3]
        for i in idx:
            print(f"  spark : {a.loc[i].to_dict()}")
            print(f"  oracle: {b.loc[i].to_dict()}")
        fail += 1
        continue
    print(f"[OK] {name}: {len(a)} rows")
    ok += 1

print(f"\n== {ok} ok, {fail} fail, {skip} rows-only ==")
sys.exit(1 if fail else 0)
