"""Seeded generator of the synthetic tables the engine's driver entries
read: a TPC-H-like star schema (region, nation, customer, supplier, part,
orders, lineitem) plus events, documents and embeddings, one parquet file
each, with the same column names, types and value ranges as the tables
the entries were written against. `sf` scales row counts (sf 0.1 gives
600,000 lineitem rows, 5,000 documents and 2,000 embeddings).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
       "events", "documents", "embeddings"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream", "value", "data",
         "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order",
         "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
         "batch"]
ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "shiny"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
DAY_US = 86400 * 1000000


def _ts(days_from_epoch):
    return pa.array(np.asarray(days_from_epoch, dtype=np.int64) * DAY_US, pa.timestamp("us"))


def _days(y, m, d):
    return int((np.datetime64("%04d-%02d-%02d" % (y, m, d)) - np.datetime64("1970-01-01")) /
               np.timedelta64(1, "D"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _sizes(sf):
    return dict(cust=int(150000 * sf), supp=max(10, int(10000 * sf)), part=int(200000 * sf),
                ord=int(1500000 * sf), li=int(6000000 * sf), ev=int(1000000 * sf),
                doc=int(50000 * sf), vec=max(500, int(20000 * sf)))


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})


def _customer(rng, n):
    k = n["cust"]
    return pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": rng.choice(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING",
                                    "AUTOMOBILE"], k)})


def _supplier(rng, n):
    k = n["supp"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, k)})


def _part(rng, n):
    k = n["part"]
    keys = np.arange(k)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": ["%s %s" % (a, b) for a, b in zip(rng.choice(ADJ, k), rng.choice(NOUN, k))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, k)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)})


def _orders(rng, n):
    k = n["ord"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["cust"], k), pa.int64()),
        "o_orderstatus": rng.choice(["P", "F", "O"], k),
        "o_totalprice": _money(rng, 1000, 500000, k),
        "o_orderdate": _ts(rng.integers(_days(1995, 1, 1), _days(2001, 8, 2), k)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], k)})


def _lineitem(rng, n):
    k = n["li"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["ord"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supp"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], k),
        "l_linestatus": rng.choice(["F", "O"], k),
        "l_shipdate": _ts(rng.integers(_days(1995, 1, 2), _days(2001, 11, 5), k))})


def _events(rng, n):
    k = n["ev"]
    start_us = _days(2024, 1, 1) * DAY_US
    return pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(start_us + np.sort(rng.integers(0, 30 * DAY_US, k)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n["cust"] // 10), k), pa.int64()),
        "event_type": rng.choice(["error", "click", "view", "signup", "purchase"], k),
        "value": np.round(rng.exponential(50, k), 2),
        "props": ['{"k": %d}' % v for v in rng.integers(0, 100, k)]})


def _documents(rng, n):
    """Random word sequences; about 5% are an earlier document with one
    word appended and a few are exact copies."""
    k = n["doc"]
    texts = []
    for i in range(k):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 101))))
    return pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], k),
        "source": ["src%d" % s for s in rng.integers(0, 20, k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n):
    """Unit vectors scattered around ten label centers."""
    k = n["vec"]
    labels = rng.integers(0, 10, k)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.08 + rng.normal(0, 1, (k, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


_MAKERS = [_region, _nation, _customer, _supplier, _part, _orders, _lineitem, _events,
           _documents, _embeddings]


def table(name, sf, seed):
    """One table; each has its own random stream, so any subset can be
    generated and comes out the same."""
    i = ALL.index(name)
    return _MAKERS[i](np.random.default_rng([seed, i]), _sizes(sf))


def write(out, sf, seed, names=ALL):
    os.makedirs(out, exist_ok=True)
    for name in names:
        pq.write_table(table(name, sf, seed), os.path.join(out, name + ".parquet"))
