"""DuckDB oracle check of the `suite_heads` results.

The harness writes each query's result once per run (outside the timed
laps) as parquet under WORK/check/<query>/, plus WORK/oracle_sql.json with
each query's registered DuckDB SQL. Both sides are canonicalised (columns
by name, rows sorted) and compared exactly; floats pass within 1e-9
relative. A query without oracle SQL is checked for a non-empty result.
"""
import glob
import json
import os

import duckdb
import numpy as np

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _canon(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def compare(exp, got):
    """None when equal, else a one-line reason."""
    if sorted(exp.columns) != sorted(got.columns):
        return f"columns {sorted(exp.columns)} vs {sorted(got.columns)}"
    exp, got = _canon(exp), _canon(got)
    if len(exp) != len(got):
        return f"rows oracle={len(exp)} engine={len(got)}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            ef, gf = e.astype(float).values, g.astype(float).values
            ok = np.isclose(ef, gf, rtol=1e-9, atol=1e-12) | (np.isnan(ef) & np.isnan(gf))
        else:
            ok = (e.astype(object).values == g.astype(object).values) | \
                 (e.isna().values & g.isna().values)
        if not ok.all():
            i = int(np.argmin(ok))
            return f"{c} row {i}: oracle={e.iloc[i]!r} engine={g.iloc[i]!r}"
    return None


def mismatches(data_dir, work_dir):
    """{query: reason} for every query whose result fails the oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(work_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(work_dir, "check", name, "*.parquet"))
        if not files:
            bad[name] = "no engine output"
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{work_dir}/check/{name}/*.parquet')").fetchdf()
        if not sql:
            if len(got) == 0:
                bad[name] = "empty result and no oracle SQL"
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = "oracle error: " + str(e).splitlines()[0]
            continue
        why = compare(exp, got)
        if why:
            bad[name] = why
    return bad
