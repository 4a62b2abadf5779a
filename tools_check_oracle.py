"""Cross-check a Verify dump against its DuckDB oracle.

Usage: python3 tools_check_oracle.py <sf_dir> <verify_out>

Registers each <sf_dir>/<table>.parquet as a bare-named view, runs every
query of <verify_out>/oracle_sql.json, and compares the result with the Spark
output in <verify_out>/<name>/ after sorting columns by name and rows by value.
SPARK_GRAFT_ONLY (comma-separated names, as for Verify) restricts the check to
those queries; SKIP_QUERIES names queries to leave out. Exits 1 unless every
checked query is OK or SKIPPED.
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def names_from_env(var):
    return [q.strip() for q in os.environ.get(var, "").split(",") if q.strip()]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(con, out, name, sql):
    parts = glob.glob(f"{out}/{name}/*.parquet")
    if not parts:
        return f"ERR: no Spark output under {out}/{name}"
    a = canon(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True))
    b = canon(con.execute(sql).fetchdf())
    if list(a.columns) != list(b.columns):
        return f"COLS: spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS: spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            if av.dtype.kind == 'f' or bv.dtype.kind == 'f':
                same = np.allclose(av.fillna(-9e9).astype(float), bv.fillna(-9e9).astype(float),
                                   rtol=0, atol=0, equal_nan=True)
            else:
                same = (av.astype(str).values == bv.astype(str).values).all()
        except Exception as e:
            return f"CMPERR col {c}: {e}"
        if not same:
            return f"VAL col {c}"
    return "OK"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sf, out = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        except Exception as e:
            print("view fail", t, e)
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    only = names_from_env("SPARK_GRAFT_ONLY")
    skip = set(names_from_env("SKIP_QUERIES"))
    results = {}
    for name in sorted(only or oracle):
        if name in skip:
            results[name] = "SKIPPED (via SKIP_QUERIES)"
        elif name not in oracle:
            results[name] = "ERR: no oracle SQL for this name"
        else:
            try:
                results[name] = compare(con, out, name, oracle[name])
            except Exception as e:
                results[name] = f"ERR: {type(e).__name__}: {str(e)[:200]}"
    for k, v in results.items():
        print(f"{k:22s} {v}")
    ok = sum(1 for v in results.values() if v == "OK")
    skipped = sum(1 for v in results.values() if v.startswith("SKIPPED"))
    print(f"\n{ok}/{len(results)} OK" + (f", {skipped} skipped" if skipped else ""))
    sys.exit(0 if ok + skipped == len(results) else 1)


if __name__ == "__main__":
    main()
