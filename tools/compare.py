#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare.py <verifyOutDir> <sfDir> [query ...]

Reads <verifyOutDir>/oracle_sql.json (written by graft.Verify), registers the
sf parquet tables as DuckDB views, runs each oracle SQL, and compares against
the Spark result parquet at <verifyOutDir>/<name>/ — columns sorted by name,
rows sorted by all columns, exact value equality. Dev tooling only; the
shipped library has no Python dependency.
"""
import json, sys, math
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # a misspelled name must not silently shrink the compared set
    unknown = sorted(only - oracle.keys())
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}")
        sys.exit(2)
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            expect = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            n_bad += 1
            continue
        try:
            got = canon(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
        except Exception as e:
            print(f"FAIL {name}: spark result missing: {str(e)[:200]}")
            n_bad += 1
            continue
        if list(expect.columns) != list(got.columns):
            print(f"FAIL {name}: columns oracle={list(expect.columns)} spark={list(got.columns)}")
            n_bad += 1
            continue
        # Dtype-kind strictness: the driver renders values before hashing, so a
        # DuckDB HUGEINT (e.g. an uncast sum(BIGINT)) hashes as `4.0` against
        # Spark's BIGINT `4` and fails even when every value is equal. Both
        # sides here pass through the same duckdb→pandas conversion, so an
        # integer-vs-float kind mismatch means the underlying logical types
        # differ — fail it locally the way the driver would.
        kind_bad = None
        for col in expect.columns:
            ek = "int" if expect[col].dtype.kind in "iu" else \
                 "float" if expect[col].dtype.kind == "f" else None
            gk = "int" if got[col].dtype.kind in "iu" else \
                 "float" if got[col].dtype.kind == "f" else None
            if ek and gk and ek != gk:
                kind_bad = (col, expect[col].dtype, got[col].dtype)
                break
        if kind_bad:
            col, ed, gd = kind_bad
            print(f"FAIL {name}: dtype kind mismatch col={col} oracle={ed} spark={gd}"
                  f" (cast the integer aggregate to BIGINT on both sides)")
            n_bad += 1
            continue
        if len(expect) != len(got):
            print(f"FAIL {name}: rows oracle={len(expect)} spark={len(got)}")
            n_bad += 1
            continue
        bad = None
        for col in expect.columns:
            ev, gv = expect[col].tolist(), got[col].tolist()
            for i, (a, b) in enumerate(zip(ev, gv)):
                if not cell_eq(a, b):
                    bad = (col, i, a, b)
                    break
            if bad:
                break
        if bad:
            col, i, a, b = bad
            print(f"FAIL {name}: value mismatch col={col} row={i} oracle={a!r} spark={b!r}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
            n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail ==")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
