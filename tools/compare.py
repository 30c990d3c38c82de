#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query result
written by graft.Verify, run the oracle SQL in DuckDB over the same parquet
tables and compare (columns sorted by name, rows sorted, exact values).

Every query named in oracle_sql.json must have written an output directory:
a query that threw in Verify leaves none and counts as a failure here."""
import glob
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def cells_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return fa == fb
    except (TypeError, ValueError):
        pass
    # pandas NaN/None cross-engine null
    if pd.isna(a) is True and pd.isna(b) is True:
        return True
    return str(a) == str(b)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    written = {d.rstrip("/").split("/")[-1] for d in glob.glob(f"{out_dir}/*/")}
    fails = 0
    for name in sorted(set(oracle) - written):
        print(f"  {name:24s} MISSING OUTPUT (no directory written)")
        fails += 1
    for name in sorted(written):
        qdir = f"{out_dir}/{name}"
        spark_df = pd.concat(
            [pd.read_parquet(f) for f in glob.glob(f"{qdir}/*.parquet")],
            ignore_index=True) if glob.glob(f"{qdir}/*.parquet") else pd.DataFrame()
        if name not in oracle:
            print(f"  {name:24s} rows-only: {len(spark_df)} rows "
                  f"{'OK' if len(spark_df) > 0 else 'EMPTY!'}")
            if len(spark_df) == 0:
                fails += 1
            continue
        try:
            duck_df = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"  {name:24s} ORACLE SQL ERROR: {e}")
            fails += 1
            continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"  {name:24s} SCHEMA MISMATCH spark={list(a.columns)} duck={list(b.columns)}")
            fails += 1
            continue
        if len(a) != len(b):
            print(f"  {name:24s} ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}")
            fails += 1
            continue
        bad = None
        for col in a.columns:
            av, bv = a[col].tolist(), b[col].tolist()
            for i, (x, y) in enumerate(zip(av, bv)):
                if not cells_equal(x, y):
                    bad = (col, i, x, y)
                    break
            if bad:
                break
        if bad:
            col, i, x, y = bad
            print(f"  {name:24s} VALUE MISMATCH col={col} row={i} spark={x!r} duck={y!r}")
            fails += 1
        else:
            print(f"  {name:24s} MATCH ({len(a)} rows)")
    print(f"{'PASS' if fails == 0 else 'FAIL'}: {fails} failures")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
