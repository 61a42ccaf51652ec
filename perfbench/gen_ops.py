"""Parquet tables for the operator-suite workload.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one ``<name>.parquet`` file each, with the
schemas and value shapes of the project's test data (TESTDATA.md: a
TPC-H-like star schema, an event stream, a bag-of-words document corpus
with planted near-duplicates, and unit-norm 64-d embeddings clustered by
label), so every ``graft.SparkEntry.queries`` entry runs on them
unchanged.

The content depends only on the seed and the scale factor (row counts
scale as in the test data: lineitem = 6,000,000 x sf). The operator
suite uses one fixed seed, so its pinned row counts and hashes stay
valid. perfbench/run.py calls ``generate(out, seed, sf)``.
"""

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]


def ts_us(start, end, n, rng):
    """n day-granular timestamps in [start, end] as microseconds."""
    days = (end - start).days
    base = (start - dt.date(1970, 1, 1)).days * 86400 * 10**6
    return base + rng.integers(0, days + 1, n) * 86400 * 10**6


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def generate(out, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(15, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(20, int(200000 * sf))
    n_ord = max(150, int(1500000 * sf))
    n_line = max(600, int(6000000 * sf))
    n_evt = max(100, int(1000000 * sf))
    n_docs = max(50, int(50000 * sf))
    n_vecs = max(50, int(50000 * sf))
    i32 = pa.int32()

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    colors = np.array(["small", "red", "blue", "green", "large", "black", "white", "steel"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "nut", "valve", "pipe", "spring"])
    ptypes = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(850.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(ts_us(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng),
                                pa.timestamp("us")),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(ts_us(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line, rng),
                               pa.timestamp("us"))})
    etypes = np.array(["signup", "error", "click", "view", "purchase"])
    t0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * 86400 * 10**6
    ets = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n_evt))
    write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, int(15000 * sf)), n_evt),
        "event_type": etypes[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.uniform(0.0, 50.0, n_evt), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_evt)]})

    # bag-of-words documents; about 5% are near-duplicates of an earlier
    # document (one word swapped, or a trailing 'dup' token)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            else:
                words.append("dup")
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
