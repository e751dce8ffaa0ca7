#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: compare Verify output
parquet against DuckDB running oracle_sql.json over the same fixtures.
Usage: check_correctness.py <sfDir> <verifyOutDir> [--parent <parentOutDir>]

With --parent, also print for each query whether the sorted-row hash of
its output equals that of the same query's output under <parentOutDir>
(a Verify run of another tree, e.g. the parent commit); any difference
fails the run like a gate failure.
"""
import argparse, hashlib, json, glob, os, sys
import duckdb
import pandas as pd

ap = argparse.ArgumentParser()
ap.add_argument("sfdir")
ap.add_argument("outdir")
ap.add_argument("--parent", metavar="parentOutDir")
args = ap.parse_args()
sfdir, outdir = args.sfdir, args.outdir
con = duckdb.connect()
for f in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(f)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")

oracles = json.load(open(f"{outdir}/oracle_sql.json"))
fails, passes, rows_only = [], [], []
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    got = con.sql(f"SELECT * FROM '{d}/*.parquet'").df()
    if name not in oracles:
        rows_only.append((name, len(got)))
        continue
    try:
        want = con.sql(oracles[name]).df()
    except Exception as e:
        fails.append((name, [f"oracle error: {e}"]))
        continue
    # dtype gate (round-9 lesson, t33): the driver hashes canonical value
    # BYTES, so a DuckDB HUGEINT (int128) column hash-mismatches an
    # engine BIGINT even when every value is equal — and pandas string
    # coercion below cannot see it. Compare the DuckDB oracle types
    # against the engine parquet types BEFORE value comparison.
    # int32<->int64 pairings are driver-proven compatible (13 such
    # columns were green in r9's driver gate); int128 is not.
    def type_family(t):
        t = str(t).upper()
        if 'HUGEINT' in t:
            return 'int128'          # never compatible with anything
        if t in ('TINYINT', 'SMALLINT', 'INTEGER', 'BIGINT'):
            return 'int'
        # unsigned stays its own family: Spark never emits unsigned, so
        # an unsigned oracle column is always a typing bug to fix there
        return t
    got_rel = con.sql(f"SELECT * FROM '{d}/*.parquet'")
    want_rel = con.sql(oracles[name])
    got_types = dict(zip(got_rel.columns, got_rel.types))
    want_types = dict(zip(want_rel.columns, want_rel.types))
    type_problems = [
        f"col {c} dtype: engine {got_types[c]} vs oracle {want_types[c]}"
        for c in want_types
        if c in got_types
        and type_family(got_types[c]) != type_family(want_types[c])]
    # driver semantics: sort columns by name, then compare value hashes
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    problems = list(type_problems)
    if list(got.columns) != list(want.columns):
        problems.append(f"columns {list(got.columns)} != {list(want.columns)}")
    elif len(got) != len(want):
        problems.append(f"rows {len(got)} != {len(want)}")
    else:
        gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        ws = want.sort_values(by=list(want.columns)).reset_index(drop=True)
        for c in got.columns:
            a, b = gs[c], ws[c]
            if a.dtype.kind == 'f' or b.dtype.kind == 'f':
                # strict: values equal AND same zero sign (driver hashes
                # canonical bytes, so -0.0 vs +0.0 is a hash mismatch)
                import numpy as np
                af, bf = a.astype(float), b.astype(float)
                same_sign = np.signbit(af.fillna(0.0)) == np.signbit(bf.fillna(0.0))
                ok = ((a.isna() & b.isna()) | ((af == bf) & same_sign)).all()
            else:
                ok = (a.astype(str) == b.astype(str)).all()
            if not ok:
                bad = (~((a.isna() & b.isna()) | (a.astype(str) == b.astype(str)))).idxmax()
                problems.append(f"col {c} differs, e.g. row {bad}: {a[bad]!r} vs {b[bad]!r}")
    if problems:
        fails.append((name, problems))
    else:
        passes.append((name, len(got)))

print(f"PASS: {len(passes)}  FAIL: {len(fails)}  ROWS-ONLY: {len(rows_only)}")
for n, r in passes:
    print(f"  ok    {n} ({r} rows)")
for n, r in rows_only:
    print(f"  rows  {n} ({r} rows)")
for n, p in fails:
    print(f"  FAIL  {n}: {p[:2]}")


def row_hash(d):
    """sha256 of the output's rows, columns in name order, rows sorted."""
    rel = con.sql(f"SELECT * FROM '{d}/*.parquet'")
    cols = sorted(rel.columns)
    select = ", ".join('"' + c + '"' for c in cols)
    rows = con.sql(f"SELECT {select} FROM '{d}/*.parquet'").fetchall()
    h = hashlib.sha256(repr(cols).encode())
    for r in sorted(map(repr, rows)):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


differ = []
if args.parent:
    same = 0
    for name in sorted(os.listdir(outdir)):
        d = os.path.join(outdir, name)
        if not os.path.isdir(d):
            continue
        p = os.path.join(args.parent, name)
        if not os.path.isdir(p):
            differ.append(name)
            print(f"  parent-missing  {name}")
        elif row_hash(d) == row_hash(p):
            same += 1
            print(f"  parent-same     {name}")
        else:
            differ.append(name)
            print(f"  parent-DIFFERS  {name}")
    print(f"PARENT-SAME: {same}  PARENT-DIFFERS: {len(differ)}")
sys.exit(1 if fails or differ else 0)
