#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate.

Usage: python3 dev/check.py [sfdir] [outdir]
  1. expects `sbt "runMain graft.Verify <sfdir> <outdir>"` to have run
  2. registers each testdata parquet as a DuckDB view
  3. runs every oracle_sql.json entry, compares against the parquet dump:
     columns sorted by name, rows sorted, exact value compare.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

with open(os.path.join(outdir, "oracle_sql.json")) as f:
    oracles = json.load(f)

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object and len(df) and all(
                v is None or hasattr(v, "isoformat") for v in df[c]) and any(
                hasattr(v, "isoformat") for v in df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

n_pass = n_fail = n_noop = 0
names = sorted(os.listdir(outdir))
for name in names:
    path = os.path.join(outdir, name)
    if not os.path.isdir(path):
        continue
    got = pd.read_parquet(path)
    if name not in oracles:
        print(f"  [rows-only] {name}: {len(got)} rows")
        n_noop += 1
        continue
    try:
        exp = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        print(f"✗ {name}: ORACLE SQL ERROR: {e}")
        n_fail += 1
        continue
    try:
        g, e = canon(got), canon(exp)
    except Exception as ex:
        print(f"✗ {name}: canon error {ex}")
        n_fail += 1
        continue
    dt_mismatch = [(c, str(g[c].dtype), str(e[c].dtype)) for c in g.columns
                   if c in e.columns and str(g[c].dtype) != str(e[c].dtype)]
    if dt_mismatch:
        print(f"✗ {name}: dtype mismatch {dt_mismatch}")
        n_fail += 1
        continue
    if list(g.columns) != list(e.columns):
        print(f"✗ {name}: column mismatch spark={list(g.columns)} duckdb={list(e.columns)}")
        n_fail += 1
        continue
    if len(g) != len(e):
        print(f"✗ {name}: row count spark={len(g)} duckdb={len(e)}")
        n_fail += 1
        continue
    # exact compare (hash-equivalent)
    try:
        eq = g.equals(e)
        if not eq:
            # locate first differing cell for debugging
            diffs = []
            for c in g.columns:
                gv, ev = g[c], e[c]
                neq = ~(gv.eq(ev) | (gv.isna() & ev.isna()))
                if neq.any():
                    i = neq.idxmax()
                    diffs.append(f"{c}[{i}]: spark={gv[i]!r} duckdb={ev[i]!r} (dtype {gv.dtype} vs {ev.dtype})")
            print(f"✗ {name}: value mismatch — " + "; ".join(diffs[:4]))
            n_fail += 1
            continue
    except Exception as ex:
        print(f"✗ {name}: compare error {ex}")
        n_fail += 1
        continue
    print(f"✓ {name} ({len(g)} rows)")
    n_pass += 1

missing = set(oracles) - {n for n in names if os.path.isdir(os.path.join(outdir, n))}
for m in sorted(missing):
    print(f"✗ {m}: oracle declared but query output missing (query threw?)")
    n_fail += 1

print(f"\n{n_pass} pass, {n_fail} fail, {n_noop} rows-only")
sys.exit(1 if n_fail else 0)
