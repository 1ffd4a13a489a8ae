#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [prefix ...]

Runs each oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB (with
the sf tables registered as views), loads the Spark result parquet written
by graft.Verify, canonicalizes both (columns sorted by name, rows sorted by
all columns), and compares values exactly (floats: exact + 1e-9-tolerant
verdicts reported separately). With prefixes, only the queries whose name
starts with one of them are checked (graft.Verify selects the same way); a
filter that selects no query is a failure, not an empty pass.
"""
import duckdb, json, sys, glob
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # array cells (numpy arrays / lists) are unhashable and unsortable:
    # canonicalize them to tuples so sort_values and == work on them.
    # Probe the first NON-NULL cell (a leading None row would otherwise
    # hide the arrays behind it and crash the sort). NOTE the OFFICIAL
    # gate has no such canonicalization at all — registered queries must
    # not emit ARRAY columns (PlanShapeSpec enforces); this local shim
    # only keeps ad-hoc dumps comparable.
    for c in df.columns:
        if df[c].dtype == object and len(df):
            nn = df[c].dropna()
            if len(nn) and isinstance(nn.iloc[0], (np.ndarray, list)):
                df[c] = df[c].map(lambda v: tuple(v.tolist() if isinstance(v, np.ndarray) else v)
                                  if v is not None else None)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def cmp_frames(name, exp, got):
    if sorted(exp.columns) != sorted(got.columns):
        print(f"FAIL {name}: columns oracle={sorted(exp.columns)} spark={sorted(got.columns)}")
        return False
    exp, got = canon(exp), canon(got)
    if len(exp) != len(got):
        print(f"FAIL {name}: rows oracle={len(exp)} spark={len(got)}")
        return False
    ok = True
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype != g.dtype:
            print(f"WARN {name}.{c}: dtype oracle={e.dtype} spark={g.dtype}")
        try:
            if e.dtype.kind == "f" or g.dtype.kind == "f":
                ef, gf = e.astype(float), g.astype(float)
                exact = (ef.values == gf.values) | (ef.isna().values & gf.isna().values)
                if not exact.all():
                    close = np.isclose(ef.values, gf.values, rtol=1e-9, atol=1e-12)
                    i = int(np.argmin(exact))
                    tag = "CLOSE-BUT-INEXACT" if close.all() else "FAIL"
                    print(f"{tag} {name}.{c}: first diff row {i}: oracle={ef.iloc[i]!r} spark={gf.iloc[i]!r}")
                    ok = close.all() and ok
                    if tag == "FAIL":
                        ok = False
            else:
                same = (e.astype(object).values == g.astype(object).values) | (e.isna().values & g.isna().values)
                if not same.all():
                    i = int(np.argmin(same))
                    print(f"FAIL {name}.{c}: first diff row {i}: oracle={e.iloc[i]!r} spark={g.iloc[i]!r}")
                    ok = False
        except Exception as ex:
            print(f"FAIL {name}.{c}: compare error {ex}")
            ok = False
    return ok


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    prefixes = sys.argv[3:]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    names = [n for n in sorted(oracle)
             if not prefixes or any(n.startswith(p) for p in prefixes)]
    if not names:
        print(f"FAIL: no query selected by {prefixes or 'an empty oracle'}")
        sys.exit(1)
    n_ok = n_fail = 0
    for name in names:
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e).splitlines()[0]}")
            n_fail += 1
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").fetchdf()
        if cmp_frames(name, exp, got):
            print(f"OK   {name}: {len(got)} rows")
            n_ok += 1
        else:
            n_fail += 1
    # queries without oracle -> rows-only
    print(f"== {n_ok} ok, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
