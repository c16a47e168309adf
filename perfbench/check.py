"""Checks every op's rows against DuckDB, outside the timed region.

Each op line from the JVM carries its key, its oracle SQL and the rows it
returned. Both sides go through pandas dtypes, as graft's correctness gate
compares them: an integer column arriving as float is a mismatch. The
`maintained` ops are checked by replaying the same days against exact
Jaccard over a DuckDB copy of the index contents; banded MinHash may miss
only pairs it catches with probability below 1 - MISS_ALLOWED."""
import datetime
import decimal
import glob
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

ARROW = {"bigint": pa.int64(), "int": pa.int32(), "smallint": pa.int16(), "tinyint": pa.int8(),
         "double": pa.float64(), "float": pa.float32(), "string": pa.string(),
         "boolean": pa.bool_()}

# graft.operators.Dedup's MinHash index geometry (numPerm, bands)
NUM_PERM, BANDS = 128, 32
# a true pair banded MinHash misses with a higher chance may be missing
MISS_ALLOWED = 1e-6

PAIRS = """
WITH bt AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM {batch}),
ct AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM {corpus}),
b AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]) AS s FROM bt),
c AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]) AS s FROM ct),
bi AS (SELECT doc_id, unnest(s) AS sg FROM b),
ci AS (SELECT doc_id, unnest(s) AS sg FROM c),
p AS (SELECT bi.doc_id AS batch_id, ci.doc_id AS corpus_id, count(*) AS shared
      FROM bi JOIN ci ON bi.sg = ci.sg GROUP BY 1, 2)
SELECT batch_id, corpus_id, shared / (len(b.s) + len(c.s) - shared) AS jaccard
FROM p JOIN b ON b.doc_id = batch_id JOIN c ON c.doc_id = corpus_id
WHERE shared / (len(b.s) + len(c.s) - shared) >= {tau}
"""


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (name, src))
    return con


def spark_frame(cols, rows):
    """The JVM's rows as a pandas frame with the dtypes a parquet round trip
    of the Spark schema gives."""
    arrays = []
    for i, (_, typ) in enumerate(cols):
        vals = [r[i] for r in rows]
        t = ARROW.get(typ)
        if t is None and typ.startswith("decimal"):
            vals = [None if v is None else decimal.Decimal(str(v)) for v in vals]
            p, s = typ[len("decimal("):-1].split(",")
            t = pa.decimal128(int(p), int(s))
        if t is None:  # strings, and nested values kept as their JSON text
            t = pa.string()
            if not all(v is None or isinstance(v, str) for v in vals):
                vals = [json.dumps(v) for v in vals]
        arrays.append(pa.array(vals, type=t))
    return pa.table(arrays, names=[c for c, _ in cols]).to_pandas()


def kind(series):
    k = series.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    vals = [v for v in series if v is not None]
    if vals and isinstance(vals[0], decimal.Decimal):
        return "float"
    return "other"


def norm(v):
    """Canonical text of one non-numeric cell."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, (float, decimal.Decimal)):
        return "%.10g" % (float(v) + 0.0)
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, np.generic):
        return norm(v.item())
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, str) and v.startswith("["):
        try:
            return norm(json.loads(v))
        except ValueError:
            return v
    return str(v)


def canonical(series, k):
    """A column in comparable form: floats rounded to ~10 significant digits
    (relative, so sums in another order still agree), -0.0 as 0.0."""
    if k == "float":
        x = np.asarray(pd.to_numeric(series.astype(object).where(series.notna(), np.nan)),
                       dtype=np.float64) + 0.0
        m, e = np.frexp(x)
        return pd.Series(np.ldexp(np.round(m * 2.0 ** 33) / 2.0 ** 33, e))
    if k == "int":
        return pd.Series(np.asarray(series, dtype=np.int64))
    if all(isinstance(v, str) for v in series):
        return pd.Series(list(series), dtype=object)
    return pd.Series([norm(v) for v in series], dtype=object)


def compare(got, want):
    """None when the frames agree as multisets of rows, else the reason."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return "columns %s != oracle %s" % (gc, wc)
    if len(got) != len(want):
        return "rows %d != oracle %d" % (len(got), len(want))
    g, w = {}, {}
    for c in gc:
        kg, kw = kind(got[c]), kind(want[c])
        if {kg, kw} == {"int", "float"}:
            return "column %s is %s, oracle %s" % (c, kg, kw)
        k = kg if kg == kw else "other"
        g[c], w[c] = canonical(got[c], k), canonical(want[c], k)
    sort = lambda d: pd.DataFrame(d).sort_values(gc, na_position="first").reset_index(drop=True)
    g, w = sort(g), sort(w)
    if not g.equals(w):
        diff = (g != w) & ~(g.isna() & w.isna())
        bad = int(diff.any(axis=1).to_numpy().argmax())
        return "row %d: %s != oracle %s" % (bad, tuple(g.iloc[bad]), tuple(w.iloc[bad]))
    return None


def catch_probability(j):
    """The chance that banded MinHash makes a pair of Jaccard `j` a
    candidate (Dedup.bandingCatchProbability)."""
    return 1.0 - (1.0 - j ** (NUM_PERM / BANDS)) ** BANDS


def compare_pairs(got, want):
    """`compare` for MinHash (batch_id, corpus_id, jaccard) pairs: every
    pair returned must be a true pair with its exact Jaccard, and every true
    pair must be returned unless banding misses it with a chance of at
    least MISS_ALLOWED (pairs just above the threshold)."""
    if sorted(got.columns) != sorted(want.columns):
        return compare(got, want)
    have = set(zip(got["batch_id"].tolist(), got["corpus_id"].tolist()))
    found = [p in have for p in zip(want["batch_id"].tolist(), want["corpus_id"].tolist())]
    for b, c, j, f in zip(want["batch_id"], want["corpus_id"], want["jaccard"], found):
        if not f and 1.0 - catch_probability(j) < MISS_ALLOWED:
            return "missed pair (%d, %d) of jaccard %.4f" % (b, c, j)
    return compare(got, want[found].reset_index(drop=True))


def check(data_dir, checks_path, tau=0.5):
    """({op id: reason} for every op whose rows disagree with DuckDB,
    {op id: reason} for the untimed unrefreshed twins that disagree)."""
    con = connect(data_dir)
    failures, defects, oracle_cache, hits = {}, {}, {}, {}
    maintained = os.path.exists(os.path.join(data_dir, "days.parquet"))
    if maintained:
        con.execute("CREATE TABLE idx AS SELECT doc_id, text FROM documents")
    with open(checks_path) as f:
        records = [json.loads(line) for line in f]
    # an unrefreshed twin sees the same index as the op it precedes
    twin = lambda r: r["kind"].startswith("unrefreshed_")
    for rec in sorted(records, key=lambda r: (r["id"], not twin(r))):
        got = spark_frame(rec["cols"], rec["rows"])
        try:
            if maintained and not rec["sql"]:
                reason = oracle(con, rec, got, hits, tau)
            else:
                reason = compare(got, cached(con, rec["sql"], oracle_cache))
        except Exception as e:  # an oracle that cannot run is a failed check
            reason = "oracle error: %s" % e
        if reason:
            (defects if twin(rec) else failures)[rec["id"]] = \
                "%s %s: %s" % (rec["kind"], rec["key"], reason)
    return failures, defects


def cached(con, sql, cache):
    if not sql:
        raise ValueError("no oracle SQL")
    if sql not in cache:
        cache[sql] = con.execute(sql).df()
    return cache[sql]


def oracle(con, rec, got, hits, tau):
    """Check one maintained op by replaying it on the DuckDB index copy;
    None when `got` agrees, else the reason. A day's probe and its streamed
    append both see the pre-append index, so both must return that day's
    pairs; the append then adds the batch rows it found no pair for."""
    kind_, day = rec["kind"], int(rec["key"].split("(")[1].rstrip(")"))
    if kind_ in ("probe", "unrefreshed_probe"):
        batch = "(SELECT doc_id, text FROM days WHERE day = %d)" % day
        want = con.execute(PAIRS.format(batch=batch, corpus="idx", tau=tau)).df()
        if kind_ == "probe":
            hits[day] = want
        return compare_pairs(got, want)
    if kind_ == "append":
        reason = compare_pairs(got, hits.pop(day))
        ids = ",".join(str(int(x)) for x in sorted(set(got["batch_id"]))) or "NULL"
        con.execute("INSERT INTO idx SELECT doc_id, text FROM days WHERE day = %d "
                    "AND doc_id NOT IN (%s)" % (day, ids))
        return reason
    if kind_ == "remove":
        gone = "SELECT doc_id FROM removals WHERE day = %d" % day
        want = con.execute("SELECT count(*) AS removed FROM idx WHERE doc_id IN (%s)" % gone).df()
        con.execute("DELETE FROM idx WHERE doc_id IN (%s)" % gone)
        return compare(got, want)
    if kind_ == "compact":
        return compare(got, con.execute("SELECT count(*) AS n FROM idx").df())
    raise ValueError("unknown maintained op %s" % kind_)
