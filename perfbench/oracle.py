"""Checks the dumped query outputs against the registry's DuckDB oracle SQL
run over the same generated inputs.

A result matches when, after sorting columns by name and rows by every
column, it has the oracle's columns, row count, values and dtypes (the
comparison the repository's oracle gate makes). ``pipeline_e2e`` is q36's
pipeline composed from public calls, so it is held to q36's oracle.
"""
import glob
import json
import os

import duckdb
import pyarrow.parquet as pq

ALIASES = {"pipeline_e2e": "q36_pipeline_e2e"}


def _canon(df):
    df = df[sorted(df.columns)]
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _diff(a, b):
    """None when the canonical frames agree, else a one-line reason."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs oracle {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            eq = ((av.fillna("__N__") == bv.fillna("__N__")).all() if av.dtype == object
                  else ((av.isna() == bv.isna()) & ((av == bv) | av.isna())).all())
        except Exception:
            eq = av.astype(str).equals(bv.astype(str))
        if not eq:
            return f"values differ in column {c}"
        if str(av.dtype) != str(bv.dtype):
            return f"dtype of {c}: {av.dtype} vs oracle {bv.dtype}"
    return None


def check(inputs_dir, out_dir, oracle_file, names):
    """``name -> reason`` for every dumped output in ``names`` that does not
    match its oracle, or has none."""
    with open(oracle_file) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for d in sorted(glob.glob(os.path.join(inputs_dir, "*.parquet"))):
        name = os.path.basename(d)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS FROM read_parquet('{d}/*.parquet')")
    bad = {}
    for name in names:
        sql = oracles.get(ALIASES.get(name, name))
        path = os.path.join(out_dir, name)
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        try:
            files = glob.glob(os.path.join(path, "*.parquet"))
            ours = pq.ParquetDataset(files).read().to_pandas()
            theirs = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        why = _diff(_canon(ours), _canon(theirs))
        if why:
            bad[name] = why
    return bad
