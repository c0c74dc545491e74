"""DuckDB oracle check of the batch workloads' outputs.

Each query's Spark result (a parquet dump) is compared with its oracle SQL
run in DuckDB over the same generated parquet tables, after the
normalization `scripts/local_check.py` applies: columns sorted by name, rows
sorted, list cells as tuples; column names, row counts, dtypes and values
must all agree.
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v.tolist()) if isinstance(v, np.ndarray)
                else tuple(v) if isinstance(v, list) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _dtype_key(dt):
    s = str(dt)
    return "datetime64" if s.startswith("datetime64") else s


def _compare(got, exp):
    g, x = _norm(got), _norm(exp)
    if list(g.columns) != list(x.columns):
        return f"columns {list(g.columns)} vs {list(x.columns)}"
    if len(g) != len(x):
        return f"rows {len(g)} vs {len(x)}"
    if [_dtype_key(t) for t in g.dtypes] != [_dtype_key(t) for t in x.dtypes]:
        return f"dtypes {list(g.dtypes)} vs {list(x.dtypes)}"
    for c in g.columns:
        a, b = g[c], x[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            ok = ((a.isna() & b.isna()) | (a == b)).all()
        else:
            ok = a.astype(object).where(pd.notna(a), None).equals(
                b.astype(object).where(pd.notna(b), None))
        if not ok:
            return f"column {c} differs"
    return None


def check(check_dir, data_dir, redirect_from, redirect_to):
    """Returns {query: None if it matches, else the reason}."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    out = {}
    for name, sql in oracle.items():
        if sql is None:
            out[name] = "no oracle SQL"
            continue
        try:
            got = pd.read_parquet(os.path.join(check_dir, name))
            exp = con.sql(sql.replace(redirect_from, redirect_to)).df()
            out[name] = _compare(got, exp)
        except Exception as e:  # a failed check is a failed operation
            out[name] = f"{type(e).__name__}: {e}"
    con.close()
    return out
