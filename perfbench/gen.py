"""Seeded input generator: the star-schema tables, the `events` stream and
the `documents`/`embeddings` corpora graft's queries read, written as
parquet with the same column names, types and value ranges as the tables
graft's own tests use. The same arguments always give the same bytes, so
a run's inputs are a pure function of its seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream group filter vector").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000    # 1995-01-01 UTC in micros
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC in micros


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def near_copy(rng, text):
    """A close copy of `text`, as graft's test corpus plants them: a `dup`
    marker appended, and one word replaced when the text has 40+ words.
    Copies of copies drift further, so some pairs lie near the threshold."""
    words = text.split(" ")
    if len(words) >= 40:
        words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words + ["dup"])


def documents(rng, n, dup_share, first_id=0):
    """`n` documents of 10..99 words over the 31-word vocabulary; a
    `dup_share` of them are near copies of an earlier document (copies
    included), which is what the dedup operators find."""
    texts = []
    n_words = rng.integers(10, 100, n)
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            texts.append(near_copy(rng, texts[int(rng.integers(0, len(texts)))]))
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words[i])))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array(["src%d" % k for k in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def manifest(out, counts):
    """Row counts of what was written, one `name<TAB>rows` line each."""
    with open(os.path.join(out, "manifest.tsv"), "w") as f:
        for name, n in counts.items():
            f.write("%s\t%d\n" % (name, n))


def write_days(out, seed, n_docs, n_days, batch, dup_share, remove_every, n_remove):
    """A base corpus plus `n_days` seeded batches for index maintenance. A
    `dup_share` of each batch are near copies of a base document or an
    earlier batch row, copies included; on day 0 and every
    `remove_every`-th day after it `n_remove` base documents are named for
    removal."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    base = documents(rng, n_docs, 0.05)
    _write(os.path.join(out, "documents.parquet"), base)
    pool = base["text"].to_pylist()
    day_col, ids, texts, rem_day, rem_ids = [], [], [], [], []
    alive = list(range(n_docs))
    for d in range(n_days):
        fresh = documents(rng, batch, 0.0, first_id=1_000_000 + d * 10_000)
        for i, t in enumerate(fresh["text"].to_pylist()):
            if rng.random() < dup_share:
                t = near_copy(rng, pool[int(rng.integers(0, len(pool)))])
            pool.append(t)
            day_col.append(d)
            ids.append(1_000_000 + d * 10_000 + i)
            texts.append(t)
        if d % remove_every == 0:
            picked = rng.choice(len(alive), n_remove, replace=False)
            for j in sorted(picked, reverse=True):
                rem_day.append(d)
                rem_ids.append(alive.pop(j))
    _write(os.path.join(out, "days.parquet"), {
        "day": np.array(day_col, dtype=np.int32), "doc_id": np.array(ids, dtype=np.int64),
        "text": pa.array(texts)})
    _write(os.path.join(out, "removals.parquet"), {
        "day": np.array(rem_day, dtype=np.int32), "doc_id": np.array(rem_ids, dtype=np.int64)})
    counts = {"documents": n_docs, "days": n_days}
    counts.update({"day%d" % d: batch for d in range(n_days)})
    manifest(out, counts)


def write_tables(out, seed, sf):
    """Every table graft.tables.Tables knows, at scale factor `sf`
    (sf 0.01 = 60k lineitem rows, 500 documents)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    p = lambda name: os.path.join(out, name + ".parquet")
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = int(50_000 * sf)

    _write(p("region"), {"r_regionkey": np.arange(5, dtype=np.int32),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p("nation"), {"n_nationkey": np.arange(25, dtype=np.int32),
                         "n_name": ["NATION_%d" % i for i in range(25)],
                         "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "old", "red", "small", "new", "hot", "large", "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
    _write(p("part"), {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)),
        "p_brand": ["Brand#%d" % k for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(p("orders"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 901, 104999, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_li) * US_PER_DAY)})
    n_users = max(int(15_000 * sf), 20)
    _write(p("events"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]})
    _write(p("documents"), documents(rng, n_docs, 0.05))
    vecs = rng.standard_normal((n_docs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs).astype(np.int32)})
    manifest(out, {"region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
                   "part": n_part, "orders": n_ord, "lineitem": n_li, "events": n_ev,
                   "documents": n_docs, "embeddings": n_docs})
