"""Seeded tables for the query-mix workload.

A TPC-H-ish star schema plus the `events`, `documents` and `embeddings`
tables the query surface reads, shaped like the sf0.01 tables the program
is verified on: the same columns and Arrow types, key ranges and value
distributions. One Parquet file per table, `<dir>/<name>.parquet`.

`FIXED_SEED` names the tables of the queries that read inputs which do not
depend on the run's seed (see `QueryMix.FixedInput` in the harness).

    python3 perfbench/gen_tables.py <dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMERS, ORDERS, LINEITEMS, PARTS, SUPPLIERS = 1500, 15000, 60000, 2000, 100
EVENTS, USERS, DOCUMENTS, EMBEDDINGS, DIM = 10000, 150, 500, 500, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUNS = ["ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
         "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
         "window"]
LANGS = ["de", "es", "fr", "zh"]
# q140's output differs from its oracle on this seed's embeddings
FIXED_SEED = 34


def cents(x):
    return np.round(x * 100.0) / 100.0


def days(rng, start, n, span):
    return (np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]"))


def generate(out, seed, only=None):
    """Write every table, or only those named in `only`."""
    os.makedirs(out, exist_ok=True)
    root = np.random.SeedSequence([seed, 20261018])
    rngs = iter([np.random.default_rng(s) for s in root.spawn(16)])

    def save(name, cols):
        if only is None or name in only:
            pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    save("region", {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})

    r = next(rngs)
    nreg = np.where(np.arange(25) < 5, np.arange(25), r.integers(0, 5, 25))
    save("nation", {"n_nationkey": pa.array(range(25), i32),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                    "n_regionkey": pa.array(nreg, i32)})

    r = next(rngs)
    save("customer", {
        "c_custkey": pa.array(np.arange(CUSTOMERS), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(CUSTOMERS)], s),
        "c_nationkey": pa.array(r.integers(0, 25, CUSTOMERS), i32),
        "c_acctbal": pa.array(cents(-999.99 + 10999.8 * r.random(CUSTOMERS)), f64),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, CUSTOMERS), s)})

    r = next(rngs)
    save("supplier", {
        "s_suppkey": pa.array(np.arange(SUPPLIERS), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(SUPPLIERS)], s),
        "s_nationkey": pa.array(r.integers(0, 25, SUPPLIERS), i32),
        "s_acctbal": pa.array(cents(-999.99 + 10999.8 * r.random(SUPPLIERS)), f64)})

    r = next(rngs)
    names = [f"{a} {n}" for a, n in zip(r.choice(ADJECTIVES, PARTS), r.choice(NOUNS, PARTS))]
    save("part", {
        "p_partkey": pa.array(np.arange(PARTS), i64), "p_name": pa.array(names, s),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, PARTS)], s),
        "p_type": pa.array(r.choice(PART_TYPES, PARTS), s),
        "p_size": pa.array(r.integers(1, 51, PARTS), i32),
        "p_retailprice": pa.array(cents(900.0 + (np.arange(PARTS) % 1000) * 0.1), f64)})

    r = next(rngs)
    save("orders", {
        "o_orderkey": pa.array(np.arange(ORDERS), i64),
        "o_custkey": pa.array(r.integers(0, CUSTOMERS, ORDERS), i64),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], ORDERS), s),
        "o_totalprice": pa.array(cents(1000.0 + 499000.0 * r.random(ORDERS)), f64),
        "o_orderdate": pa.array(days(r, "1995-01-01", ORDERS, 2405), ts),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, ORDERS), s)})

    r = next(rngs)
    n = LINEITEMS
    q = r.integers(1, 51, n)
    save("lineitem", {
        "l_orderkey": pa.array(r.integers(0, ORDERS, n), i64),
        "l_partkey": pa.array(r.integers(0, PARTS, n), i64),
        "l_suppkey": pa.array(r.integers(0, SUPPLIERS, n), i64),
        "l_linenumber": pa.array(r.integers(1, 8, n), i32),
        "l_quantity": pa.array(q.astype(float), f64),
        "l_extendedprice": pa.array(cents(q * (900.0 + 1200.0 * r.random(n))), f64),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0, f64),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0, f64),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n), s),
        "l_linestatus": pa.array(r.choice(["F", "O"], n), s),
        "l_shipdate": pa.array(days(r, "1995-01-02", n, 2499), ts)})

    r = next(rngs)
    gaps = 1 + (r.exponential(30 * 86400e6 / EVENTS, EVENTS)).astype(np.int64)
    t = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    save("events", {
        "event_id": pa.array(np.arange(EVENTS), i64), "ts": pa.array(t, ts),
        "user_id": pa.array(r.integers(0, USERS, EVENTS), i64),
        "event_type": pa.array(r.choice(EVENT_TYPES, EVENTS), s),
        "value": pa.array(cents(r.exponential(50.0, EVENTS)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, EVENTS)], s)})

    r = next(rngs)
    texts = []
    for i in range(DOCUMENTS):
        if i > 10 and r.integers(100) == 0:       # exact duplicates, as crawls have
            texts.append(texts[r.integers(len(texts))])
            continue
        ws = list(r.choice(WORDS, r.integers(10, 100)))
        if r.integers(20) == 0:
            ws.append("dup")
        texts.append(" ".join(ws))
    langs = np.where(r.random(DOCUMENTS) < 0.43, "en", r.choice(LANGS, DOCUMENTS))
    save("documents", {
        "doc_id": pa.array(np.arange(DOCUMENTS), i64), "text": pa.array(texts, s),
        "lang": pa.array(langs, s),
        "source": pa.array([f"src{i % 20}" for i in range(DOCUMENTS)], s),
        "n_chars": pa.array([len(x) for x in texts], i64)})

    r = next(rngs)
    centroids = r.normal(0.0, 0.14 / np.sqrt(DIM), (10, DIM))
    labels = r.integers(0, 10, EMBEDDINGS)
    v = centroids[labels] + r.normal(0.0, 0.125, (EMBEDDINGS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {
        "vec_id": pa.array(np.arange(EMBEDDINGS), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
