#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for each query parquet in outDir, runs the matching oracle_sql.json entry in
DuckDB (views over <sfDir>/*.parquet) and compares row count, schema (column
names sorted), and values (columns sorted by name, exact equality).

Usage: python3 tools/check_oracle.py <sfDir> <outDir> [query,query,...]

The optional third argument is the comma-separated query filter given to
graft.Verify: only those queries are compared, so a filtered Verify run
reports no MISSING dump for the queries it did not run.
"""
import json
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq
import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def read_spark(out, name):
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        return None
    return pd.concat([pq.read_table(f).to_pandas() for f in sorted(files)],
                     ignore_index=True)


def canon(df):
    df = df[sorted(df.columns)]
    return df


def main(sfdir, out, only=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    names = sorted(os.listdir(out))
    if only is not None:
        oracle = {k: v for k, v in oracle.items() if k in only}
        names = [n for n in names if n in only]
    ok, bad, weak = [], [], []
    # a query that threw inside Verify writes no dump at all — surface it
    # as a failure instead of silently comparing only what's present
    dumped = {n for n in names if os.path.isdir(f"{out}/{n}")}
    for name in sorted(set(oracle) - dumped):
        bad.append((name, "MISSING: no dump written (query failed in Verify?)"))
    for name in names:
        if not os.path.isdir(f"{out}/{name}"):
            continue
        got = read_spark(out, name)
        if got is None:
            bad.append((name, "no spark output"))
            continue
        if name not in oracle:
            weak.append((name, len(got)))
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            bad.append((name, f"oracle sql error: {e}"))
            continue
        if len(got) != len(exp):
            bad.append((name, f"rowcount spark={len(got)} duck={len(exp)}"))
            continue
        if sorted(got.columns) != sorted(exp.columns):
            bad.append(
                (name, f"schema spark={sorted(got.columns)} duck={sorted(exp.columns)}"))
            continue
        g, e = canon(got), canon(exp)
        mismatch = None
        for c in g.columns:
            gv, ev = g[c], e[c]
            try:
                if gv.dtype.kind == "f" or ev.dtype.kind == "f":
                    eq = (gv.isna() & ev.isna()) | (gv == ev)
                else:
                    gv2 = gv.astype(str)
                    ev2 = ev.astype(str)
                    eq = gv2 == ev2
                if not eq.all():
                    i = (~eq).idxmax()
                    mismatch = f"col {c} row {i}: spark={gv[i]!r} duck={ev[i]!r}"
                    break
            except Exception as ex:
                mismatch = f"col {c}: compare error {ex}"
                break
        if mismatch:
            bad.append((name, mismatch))
        else:
            ok.append(name)
    print(f"== OK ({len(ok)}): {' '.join(ok)}")
    for n, r in weak:
        print(f"== WEAK (rows-only, {r} rows): {n}")
    for n, r in bad:
        print(f"== FAIL {n}: {r}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None)
