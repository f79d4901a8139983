#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each query in oracle_sql.json: register each parquet table as a
DuckDB view, run the oracle SQL, load the Spark parquet result, sort
columns by name, sort rows, and compare cell-by-cell (exact for
non-floats, exact-bits for floats so we see hash risk early).

If the dir also holds gated_by.json (query without an oracle -> its
oracle twins, written by graft.Verify), each such query passes when its
output has at least one row and every twin passed above.
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # The DRIVER's checker does NOT stringify before sorting:
            # an array/list cell crashes its pandas sort_values with
            # "unhashable type" and records `err` (this hid the r9 PCA
            # failure). Mirror that: fail loudly here so an
            # array-returning query never reaches the driver.
            sample = df[c].dropna().head(20)
            if any(isinstance(v, (np.ndarray, list, dict)) for v in sample):
                raise TypeError(
                    f"column '{c}' holds array/struct cells - the driver "
                    "compare cannot sort these; flatten the query output")
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main(sf_dir, out_dir):
    con = duckdb.connect()
    # 1000x-tier runs cap DuckDB memory and spill to disk (the r15
    # monolithic dedup_substring oracle was OOM-killed at 130 GB RSS);
    # unset for the sf0.01 driver-replica path.
    lim = os.environ.get("DUCKDB_MEMORY_LIMIT")
    if lim:
        con.execute(f"SET memory_limit='{lim}'")
        con.execute("SET temp_directory='/tmp/duck_spill'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table = directory of parts
            p = f"{p}/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    passed = set()
    for name, sql in sorted(oracles.items()):
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); continue
        try:
            oracle = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); continue
        spark = pd.read_parquet(res_dir)
        if sorted(oracle.columns) != sorted(spark.columns):
            print(f"FAIL {name}: cols oracle={sorted(oracle.columns)} spark={sorted(spark.columns)}"); continue
        try:
            o, s = norm(oracle), norm(spark)
        except TypeError as e:
            print(f"FAIL {name}: {e}"); continue
        if len(o) != len(s):
            print(f"FAIL {name}: rows oracle={len(o)} spark={len(s)}"); continue
        bad = []
        for c in o.columns:
            ov, sv = o[c].values, s[c].values
            # Driver hashes native values: an int column vs a float column
            # (e.g. DuckDB HUGEINT from SUM(BIGINT) -> pandas float64)
            # hash-mismatches even when values are numerically equal.
            o_f = np.issubdtype(o[c].dtype, np.floating)
            s_f = np.issubdtype(s[c].dtype, np.floating)
            if o_f != s_f:
                bad.append(f"{c}: int/float dtype split oracle={o[c].dtype} spark={s[c].dtype}")
                continue
            if o_f or s_f:
                ov = ov.astype(np.float64); sv = sv.astype(np.float64)
                neq = ~((ov == sv) | (pd.isna(ov) & pd.isna(sv)))
                if neq.any():
                    i = int(np.argmax(neq))
                    bad.append(f"{c}[{i}]: {ov[i]!r} vs {sv[i]!r} (maxdiff={np.nanmax(np.abs(ov-sv))})")
            else:
                ovs, svs = pd.Series(ov).astype(str), pd.Series(sv).astype(str)
                neq = ovs != svs
                if neq.any():
                    i = int(np.argmax(neq.values))
                    bad.append(f"{c}[{i}]: {ovs[i]!r} vs {svs[i]!r}")
        if bad:
            print(f"FAIL {name}: {bad[:3]}")
        else:
            passed.add(name)
            print(f"OK   {name} ({len(o)} rows)")
    print(f"{len(passed)}/{len(oracles)} ok")
    gated_file = f"{out_dir}/gated_by.json"
    if os.path.exists(gated_file):
        check_gated(con, out_dir, json.load(open(gated_file)), passed)

def check_gated(con, out_dir, gated, passed):
    n_ok = 0
    for name, twins in sorted(gated.items()):
        res_dir = f"{out_dir}/{name}"
        if not glob.glob(f"{res_dir}/*.parquet"):
            print(f"FAIL {name}: no spark output"); continue
        rows = con.execute(f"SELECT count(*) FROM read_parquet('{res_dir}/*.parquet')").fetchone()[0]
        failed = [t for t in twins if t not in passed]
        if rows == 0:
            print(f"FAIL {name}: no rows")
        elif failed:
            print(f"FAIL {name}: twin(s) failed: {', '.join(failed)}")
        else:
            n_ok += 1
            print(f"OK   {name} ({rows} rows, gated by {', '.join(twins)})")
    print(f"{n_ok}/{len(gated)} gated ok")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
