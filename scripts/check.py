#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 scripts/check.py <verifyOutDir> <sfDir>

Exits 1 when any query FAILs, 0 otherwise.

Reads each <verifyOutDir>/<query>/ parquet (Spark result), runs the
matching oracle_sql.json query in DuckDB over the sf tables, sorts
columns by name and rows by all values, and compares cell-by-cell.
"""
import datetime
import glob
import json
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if v is pd.NaT:
        return "NULL"
    if isinstance(v, np.floating):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, bool) or isinstance(v, np.bool_):
        return str(bool(v))
    if isinstance(v, pd.Timestamp):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows.sort()
    return list(df.columns), [str(df[c].dtype) for c in df.columns], rows


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    # big-SF replays: an uncapped DuckDB grows past physical RAM and
    # gets OOM-killed instead of spilling; a cap makes it spill to
    # temp_directory (set both when replaying sf>=1 oracles)
    if os.environ.get("DUCKDB_MEMORY_LIMIT"):
        con.sql(f"SET memory_limit='{os.environ['DUCKDB_MEMORY_LIMIT']}'")
    if os.environ.get("DUCKDB_TEMP_DIR"):
        os.makedirs(os.environ["DUCKDB_TEMP_DIR"], exist_ok=True)
        con.sql(f"SET temp_directory='{os.environ['DUCKDB_TEMP_DIR']}'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark directory layout (generated SFs)
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
            if not files:
                print(f"FAIL  {name}: no spark output")
                n_fail += 1
                continue
            sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        except Exception as e:
            print(f"FAIL  {name}: spark read error: {e}")
            n_fail += 1
            continue
        try:
            ddf = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0][:200]}")
            n_fail += 1
            continue
        scols, sdt, srows = canon(sdf)
        dcols, ddt, drows = canon(ddf)
        if scols != dcols:
            print(f"FAIL  {name}: columns spark={scols} duckdb={dcols}")
            n_fail += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rows spark={len(srows)} duckdb={len(drows)}")
            n_fail += 1
            continue
        if srows != drows:
            diffs = [(a, b) for a, b in zip(srows, drows) if a != b]
            print(f"FAIL  {name}: {len(diffs)}/{len(srows)} differing rows; first:")
            for a, b in diffs[:3]:
                print(f"      spark : {a}")
                print(f"      duckdb: {b}")
            n_fail += 1
            continue
        dtnote = "" if sdt == ddt else f"  [dtypes spark={sdt} duckdb={ddt}]"
        print(f"PASS  {name}  ({len(srows)} rows){dtnote}")
        n_pass += 1
    missing = sorted(set(d.split("/")[-1] for d in glob.glob(f"{out_dir}/q_*")) - set(oracle))
    if missing:
        print(f"rows-only (no oracle): {missing}")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
