#!/usr/bin/env python3
"""Local dev harness mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

For each query dir under <verifyOutDir>: read the Spark parquet result,
run the matching oracle SQL from oracle_sql.json in DuckDB over the sfDir
tables, sort columns by name, and compare values. Reports both
row-order-sensitive and order-insensitive verdicts so fragility is visible.
Every oracle_sql.json key without a result directory (a query that threw in
Verify) is reported MISSING and counted bad.

This script is dev-tooling only; the shipped Scala library has no Python
dependency.
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def values(df):
    out = []
    for row in df.itertuples(index=False):
        r = []
        for v in row:
            if isinstance(v, float):
                r.append(repr(v))
            elif isinstance(v, np.ndarray):
                r.append(repr(list(v)))
            else:
                r.append(repr(v))
        out.append(tuple(r))
    return out

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            print(f"{name:32s} NO-OUTPUT"); n_bad += 1; continue
        got = norm(con.execute(
            f"SELECT * FROM read_parquet({files!r})").df())
        if name not in oracle:
            print(f"{name:32s} rows-only ({len(got)} rows)")
            continue
        try:
            exp = norm(con.execute(oracle[name]).df())
        except Exception as e:
            print(f"{name:32s} ORACLE-SQL-ERROR {e}"); n_bad += 1; continue
        gv, ev = values(got), values(exp)
        ordered = gv == ev
        unordered = sorted(gv) == sorted(ev)
        schema_ok = list(got.columns) == list(exp.columns)
        if ordered and schema_ok:
            print(f"{name:32s} OK ({len(gv)} rows)"); n_ok += 1
        elif unordered and schema_ok:
            print(f"{name:32s} OK-unordered-only ({len(gv)} rows)"); n_ok += 1
        else:
            n_bad += 1
            print(f"{name:32s} MISMATCH schema_ok={schema_ok} rows {len(gv)} vs {len(ev)}")
            if not schema_ok:
                print(f"  got cols: {list(got.columns)}\n  exp cols: {list(exp.columns)}")
            for i, (g, e) in enumerate(zip(gv, ev)):
                if g != e:
                    print(f"  first diff row {i}:\n    got {g}\n    exp {e}")
                    break
    missing = sorted(k for k in oracle
                     if not os.path.isdir(os.path.join(out_dir, k)))
    for name in missing:
        print(f"{name:32s} MISSING")
    n_bad += len(missing)
    print(f"\n{n_ok} ok, {n_bad} bad ({len(missing)} missing)")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
