#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run each oracle SQL in
DuckDB against the sf parquet tables and compare to the parquet the Verify
main dumped. Both sides go through pandas dtypes (`.df()`), as the driver
compares them: an integer column on one side and a float column on the
other is a failure (DuckDB's SUM(BIGINT) is HUGEINT, which reaches pandas
as float64). Columns sorted by name; values hashed after normalization.
Usage: selfcheck.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os, math, decimal
import duckdb
import numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
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

fails = ok = 0
for name, sql in sorted(oracle.items()):
    spark_dir = os.path.join(outdir, name)
    if not os.path.isdir(spark_dir):
        print(f"MISS  {name}: no spark output")
        fails += 1
        continue
    try:
        ocols, orows, okinds = frame(sql)
        scols, srows, skinds = frame(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
    except Exception as e:
        print(f"ERR   {name}: {e}")
        fails += 1
        continue
    oc_sig = frame_sig(orows, ocols)
    sc_sig = frame_sig(srows, scols)
    mixed = [c for c in sorted(okinds)
             if {okinds[c], skinds.get(c)} == {"int", "float"}]
    if oc_sig[0] != sc_sig[0]:
        print(f"FAIL  {name}: columns {sc_sig[0]} != oracle {oc_sig[0]}")
        fails += 1
    elif mixed:
        c = mixed[0]
        print(f"FAIL  {name}: column {c} is {skinds[c]}, oracle {okinds[c]}")
        fails += 1
    elif len(oc_sig[1]) != len(sc_sig[1]):
        print(f"FAIL  {name}: rows {len(sc_sig[1])} != oracle {len(oc_sig[1])}")
        fails += 1
    elif oc_sig[1] != sc_sig[1]:
        # ordered compare first; if row order differs but content same, note it
        if sorted(oc_sig[1]) == sorted(sc_sig[1]):
            print(f"WARN  {name}: same multiset, different row order")
            ok += 1
        else:
            bad = next(i for i, (a, b) in enumerate(zip(sorted(oc_sig[1]), sorted(sc_sig[1]))) if a != b)
            print(f"FAIL  {name}: first value diff at sorted-row {bad}:")
            print(f"      oracle: {sorted(oc_sig[1])[bad]}")
            print(f"      spark : {sorted(sc_sig[1])[bad]}")
            fails += 1
    else:
        print(f"OK    {name} ({len(srows)} rows)")
        ok += 1
print(f"\n{ok} ok, {fails} failed")
sys.exit(1 if fails else 0)
