"""Output check of the query_library workload: each query's Spark result
against its oracle SQL run in DuckDB over the same parquet tables.

Both sides are canonicalised the same way before an exact compare: columns
sorted by name, integers as Int64, floats as float64, objects as strings, rows
sorted by every column. Floats must match bit for bit. This is a copy of
the canonicalisation in tools/check_oracle.py rather than an import, so the
check cannot change with the repository code it measures.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(exp, got):
    """Return None when equal, else a one-line description of the difference."""
    e, g = canon(exp), canon(got)
    if list(e.columns) != list(g.columns):
        return f"columns expected {list(e.columns)} got {list(g.columns)}"
    if len(e) != len(g):
        return f"rows expected {len(e)} got {len(g)}"
    for c in e.columns:
        ec, gc = e[c], g[c]
        if pd.api.types.is_float_dtype(ec):
            eq = (ec.values == gc.values) | (pd.isna(ec.values) & pd.isna(gc.values))
        else:
            eq = ((ec.isna() & gc.isna()) | (ec == gc)).fillna(False).to_numpy(dtype=bool)
        if not eq.all():
            i = int(np.argmax(~eq))
            return f"{c}: {int((~eq).sum())} rows differ, first expected {ec.iloc[i]!r} got {gc.iloc[i]!r}"
    return None


def check(tables_dir, out_dir):
    """Yield (query, ok, detail) for every query in `out_dir/oracle_sql.json`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            yield name, False, "no Spark output"
            continue
        try:
            exp = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - an oracle error fails this query's check
            yield name, False, f"oracle SQL error: {e}"
            continue
        got = pd.concat([pd.read_parquet(p) for p in files])
        diff = compare(exp, got)
        yield name, diff is None, diff or f"{len(exp)} rows"
