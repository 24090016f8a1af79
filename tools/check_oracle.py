#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <outDir>
  1. expects `sbt "runMain graft.Verify <sfDir> <outDir>"` to have run
  2. loads each <outDir>/<name> parquet (Spark result)
  3. runs <outDir>/oracle_sql.json's SQL in DuckDB over <sfDir> tables
  4. compares: row count, column names (sorted), and cell values;
     an oracle_sql.json key with no output dir counts as a failure.

Not part of the shipped library — dev tooling only.
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: timestamps to ns, ints to int64, floats to float64
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_noop = 0
    # Verify writes nothing for a query that throws, so an oracle key
    # with no output dir is a failed query, not a skipped one
    for name in sorted(k for k in oracle if not os.path.isdir(os.path.join(out_dir, k))):
        print(f"✗ {name}: missing (no output dir)")
        n_fail += 1
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        files = glob.glob(f"{path}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracle:
            print(f"  [rows-only] {name}: {len(got)} rows")
            n_noop += 1
            continue
        try:
            want = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"✗ {name}: oracle SQL failed: {e}")
            n_fail += 1
            continue
        g, w = norm(got), norm(want)
        if list(g.columns) != list(w.columns):
            print(f"✗ {name}: columns differ: spark={list(g.columns)} oracle={list(w.columns)}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"✗ {name}: row count {len(g)} vs {len(w)}")
            n_fail += 1
            continue
        mismatch = []
        for c in g.columns:
            a, b = g[c], w[c]
            if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
                eq = (a.isna() & b.isna()) | (a == b)
                exact = eq.all()
                close = np.allclose(a.fillna(0), b.fillna(0), rtol=1e-12, atol=1e-12)
                if not exact:
                    mismatch.append((c, "float-exact" if close else "FLOAT-DIFF",
                                     int((~eq).sum())))
            else:
                eq = (a.isna() & b.isna()) | (a.astype(str) == b.astype(str))
                if not eq.all():
                    mismatch.append((c, "VALUE-DIFF", int((~eq).sum())))
        if mismatch:
            print(f"✗ {name}: {mismatch}")
            for c, kind, _ in mismatch[:2]:
                d = g[g[c].astype(str) != w[c].astype(str)]
                i = d.index[:3]
                print(f"    {c}: spark={g.loc[i, c].tolist()} oracle={w.loc[i, c].tolist()}")
            n_fail += 1
        else:
            print(f"✓ {name} ({len(g)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noop} rows-only")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
