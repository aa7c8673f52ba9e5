#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: for each query output
parquet written by graft.Verify, run the corresponding oracle SQL in
DuckDB over the same testdata tables and compare values. Every query
listed in the failures.json that graft.Verify writes counts as a FAIL.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; the scaled facts the
        # `relational` leg of graft.tools.ScaleStress writes (under
        # <its temp dir>/rel_f<f>) are Spark-written directories
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    # queries that threw inside graft.Verify (absent when Verify
    # predates the file)
    failed = {}
    if os.path.exists(f"{out_dir}/failures.json"):
        with open(f"{out_dir}/failures.json") as f:
            failed = {e["name"]: e for e in json.load(f)}
    n_fail = 0
    for name in sorted(set(oracle) | set(failed)):
        if name in failed:
            e = failed[name]
            print(f"FAIL {name}: verify failed: {e['class']}: "
                  f"{e['message']}")
            n_fail += 1
            continue
        sql = oracle[name]
        try:
            want = canon(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        try:
            got = canon(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != "
                  f"{list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        # exact value compare, column by column (mirrors a hash compare)
        bad = []
        for c in got.columns:
            g, w = got[c], want[c]
            try:
                eq = (g.isna() & w.isna()) | (g == w)
            except Exception:
                eq = g.astype(str) == w.astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                bad.append(f"{c}[row {i}]: spark={g[i]!r} duck={w[i]!r}")
        if bad:
            print(f"FAIL {name}: " + "; ".join(bad[:3]))
            n_fail += 1
        else:
            print(f"ok   {name} ({len(got)} rows)")
    n = len(set(oracle) | set(failed))
    print(f"\n{n - n_fail}/{n} queries match")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
