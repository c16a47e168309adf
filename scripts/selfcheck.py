#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run each oracle SQL in
DuckDB against the sf parquet tables and compare to the parquet the Verify
main dumped. Both sides go through pandas dtypes (`.df()`), as the driver
compares them: an integer column on one side and a float column on the
other is a failure (DuckDB's SUM(BIGINT) is HUGEINT, which reaches pandas
as float64). Columns sorted by name; values hashed after normalization.

With `--against <otherVerifyOut>` the expected side is each query's Spark
parquet in another Verify dump (say, the parent commit's) instead of the
DuckDB oracle, through the same normalisation and ordered/multiset logic:
"same rows as the parent" in one command.

Usage: selfcheck.py <sfDir> <verifyOutDir>
       selfcheck.py --against <otherVerifyOutDir> <verifyOutDir>
"""
import argparse, json, glob, os, math, decimal
import duckdb
import numpy as np

ap = argparse.ArgumentParser(usage=__doc__.rsplit("Usage: ", 1)[1])
ap.add_argument("--against", metavar="OTHER_VERIFY_OUT")
ap.add_argument("dirs", nargs="+")
args = ap.parse_args()
if len(args.dirs) != (1 if args.against else 2):
    ap.error("expected <sfDir> <verifyOutDir>, or --against DIR <verifyOutDir>")
outdir = args.dirs[-1]
con = duckdb.connect()
if not args.against:
    for p in glob.glob(os.path.join(args.dirs[0], "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))

def norm(v):
    if v is None:
        return "<null>"
    if isinstance(v, np.generic):
        return norm(v.item())
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)

def kind(col):
    """The numeric kind of a pandas column, as the driver's comparator sees
    it: decimals count as float."""
    k = col.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    vals = [v for v in col if v is not None]
    if vals and isinstance(vals[0], decimal.Decimal):
        return "float"
    return "other"

def frame(sql):
    """(columns, rows with nulls as None, {column: kind}) of a query,
    fetched through pandas."""
    df = con.execute(sql).df()
    rows = df.astype(object).where(df.notna(), None).values.tolist()
    return list(df.columns), rows, {c: kind(df[c]) for c in df.columns}

def frame_sig(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(cols), out

def dump_sql(d, name):
    """The SQL reading one query's Spark parquet from Verify dump `d`, or
    None when that query wrote none (it failed there)."""
    qdir = os.path.join(d, name)
    return f"SELECT * FROM read_parquet('{qdir}/*.parquet')" if os.path.isdir(qdir) else None

want = "other dump" if args.against else "oracle"
fails = ok = 0
for name, sql in sorted(oracle.items()):
    spark_sql = dump_sql(outdir, name)
    if spark_sql is None:
        print(f"MISS  {name}: no spark output")
        fails += 1
        continue
    if args.against:
        sql = dump_sql(args.against, name)
        if sql is None:
            print(f"MISS  {name}: no output in {args.against}")
            fails += 1
            continue
    try:
        ocols, orows, okinds = frame(sql)
        scols, srows, skinds = frame(spark_sql)
    except Exception as e:
        print(f"ERR   {name}: {e}")
        fails += 1
        continue
    oc_sig = frame_sig(orows, ocols)
    sc_sig = frame_sig(srows, scols)
    mixed = [c for c in sorted(okinds)
             if {okinds[c], skinds.get(c)} == {"int", "float"}]
    if oc_sig[0] != sc_sig[0]:
        print(f"FAIL  {name}: columns {sc_sig[0]} != {want} {oc_sig[0]}")
        fails += 1
    elif mixed:
        c = mixed[0]
        print(f"FAIL  {name}: column {c} is {skinds[c]}, {want} {okinds[c]}")
        fails += 1
    elif len(oc_sig[1]) != len(sc_sig[1]):
        print(f"FAIL  {name}: rows {len(sc_sig[1])} != {want} {len(oc_sig[1])}")
        fails += 1
    elif oc_sig[1] != sc_sig[1]:
        # ordered compare first; if row order differs but content same, note it
        if sorted(oc_sig[1]) == sorted(sc_sig[1]):
            print(f"WARN  {name}: same multiset, different row order")
            ok += 1
        else:
            bad = next(i for i, (a, b) in enumerate(zip(sorted(oc_sig[1]), sorted(sc_sig[1]))) if a != b)
            print(f"FAIL  {name}: first value diff at sorted-row {bad}:")
            print(f"      {want}: {sorted(oc_sig[1])[bad]}")
            print(f"      spark : {sorted(sc_sig[1])[bad]}")
            fails += 1
    else:
        print(f"OK    {name} ({len(srows)} rows)")
        ok += 1
print(f"\n{ok} ok, {fails} failed")
raise SystemExit(1 if fails else 0)
