#!/usr/bin/env python3
"""Local pre-validation of SparkEntry queries against the DuckDB oracle.

Mimics the driver's t2 gate: run graft.Verify to dump each query's result
parquet + oracle_sql.json, then execute each oracle SQL in DuckDB over the
same testdata tables and compare (row count, column names sorted, values).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
(run `sbt "runMain graft.Verify <sfDir> <outDir>"` first)

Every oracle key with no output dir is a FAIL: Verify writes oracles only
for the queries it attempted, so a missing dir means the query threw.
<sfDir> may hold `<table>.parquet` files (testdata) or directories of part
files (`graft.ScaleData`).
"""
import sys, os, json, glob
import duckdb
import pyarrow.parquet as pq
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.sql(f"CREATE VIEW {name} AS FROM '{src}'")

with open(f"{outdir}/oracle_sql.json") as f:
    oracles = json.load(f)

def canon(df):
    df = df[sorted(df.columns)]
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

fails, passes, skips = [], [], []
for name in sorted(set(oracles) - set(os.listdir(outdir))):
    fails.append((name, "no output (the query threw in Verify)"))
for name in sorted(os.listdir(outdir)):
    path = os.path.join(outdir, name)
    if not os.path.isdir(path):
        continue
    files = glob.glob(f"{path}/*.parquet")
    spark_df = pq.ParquetDataset(files).read().to_pandas()
    if name not in oracles:
        skips.append((name, len(spark_df)))
        continue
    try:
        duck_df = con.sql(oracles[name]).df()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}"))
        continue
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        fails.append((name, f"columns spark={list(a.columns)} duck={list(b.columns)}"))
        continue
    if len(a) != len(b):
        fails.append((name, f"rows spark={len(a)} duck={len(b)}"))
        continue
    diff_cols = []
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            eq = (av.fillna("__N__") == bv.fillna("__N__")).all() if av.dtype == object \
                else ((av.isna() == bv.isna()) & ((av == bv) | av.isna())).all()
        except Exception:
            eq = av.astype(str).equals(bv.astype(str))
        if not eq:
            n_bad = int((~((av.astype(str)) == (bv.astype(str)))).sum())
            diff_cols.append(f"{c}({n_bad} diffs, e.g. spark={av[(av.astype(str))!=(bv.astype(str))].iloc[0]!r} duck={bv[(av.astype(str))!=(bv.astype(str))].iloc[0]!r})")
    # dtype check (schema-ish)
    dt = [f"{c}: {a[c].dtype} vs {b[c].dtype}" for c in a.columns if str(a[c].dtype) != str(b[c].dtype)]
    if diff_cols:
        fails.append((name, "value diff: " + "; ".join(diff_cols[:3])))
    elif dt:
        fails.append((name, "dtype diff: " + "; ".join(dt)))
    else:
        passes.append((name, len(a)))

for n, r in passes:
    print(f"PASS  {n} ({r} rows)")
for n, r in skips:
    print(f"SKIP  {n} (rows-only, {r} rows)")
for n, msg in fails:
    print(f"FAIL  {n}: {msg}")
print(f"\n{len(passes)} pass, {len(skips)} rows-only, {len(fails)} fail")
sys.exit(1 if fails else 0)
