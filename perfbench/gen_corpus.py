"""Seeded generator for the corpus tables the graft queries read.

The corpus queries (graft.queries.Corpus) read ten parquet tables: a
TPC-H-like star schema (region, nation, customer, supplier, part, orders,
lineitem) plus events, documents and embeddings. This module writes them
with the column names, types and value ranges the queries expect, at a
scale factor `sf` (sf=0.1 gives 600,000 lineitem rows).

Every column is drawn independently and uniformly, except:
  * lineitem.l_orderkey references an existing order, and l_shipdate
    follows its order's o_orderdate by 1-95 days;
  * events are in event_id order with non-decreasing ts;
  * 5% of documents are near-duplicates (another document's text + " dup");
  * embeddings are unit vectors scattered around ten label centroids.
"""

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _scaled(sf, base, floor):
    return max(floor, int(round(base * sf)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _ids(n):
    return np.arange(n, dtype=np.int64)


def _ts(days_since_epoch):
    return pa.array(days_since_epoch.astype("datetime64[D]").astype("datetime64[us]"))


def tables(sf, seed):
    """Returns {table name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng(seed)
    n_cust = _scaled(sf, 150_000, 150)
    n_supp = _scaled(sf, 10_000, 10)
    n_part = _scaled(sf, 200_000, 200)
    n_ord = _scaled(sf, 1_500_000, 1500)
    n_line = _scaled(sf, 6_000_000, 6000)
    n_evt = _scaled(sf, 1_000_000, 1000)
    n_users = _scaled(sf, 15_000, 150)
    n_docs = _scaled(sf, 50_000, 500)
    n_vecs = _scaled(sf, 20_000, 500)

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": _ids(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": _ids(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": _ids(n_part),
        "p_name": _pick(rng, names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})

    day0 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
    span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    odays = day0 + rng.integers(0, span + 1, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": _ids(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odays),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})

    okeys = rng.integers(0, n_ord, n_line)
    flags = rng.integers(0, 6, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"], dtype=object)[flags // 2],
        "l_linestatus": np.array(["O", "F"], dtype=object)[flags % 2],
        "l_shipdate": _ts(odays[okeys] + rng.integers(1, 96, n_line))})

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    out["events"] = pa.table({
        "event_id": _ids(n_evt),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    vocab = np.asarray(WORDS, dtype=object)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(4, 90))]))
    out["documents"] = pa.table({
        "doc_id": _ids(n_docs),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": _ids(n_vecs),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(directory, sf, seed):
    """Writes every table as <directory>/<name>.parquet (one file each)."""
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
