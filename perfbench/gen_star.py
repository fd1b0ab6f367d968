#!/usr/bin/env python3
"""Seeded generator of the engine's ten star-schema tables.

Writes `<out>/<table>.parquet` for region, nation, customer, supplier,
part, orders, lineitem, events, documents and embeddings at scale factor
`SF`, with the schema of the engine's reference test data (see
TESTDATA.md): uniform foreign keys, 2-decimal money, timestamps without a
time zone. Row counts follow the reference scale rule (lineitem = 6M x SF;
documents and embeddings never below 500).

Documents and embeddings follow the shape measured on the reference sf0.01
and sf0.1 tables (perfbench/README.md, "Inputs"): 10..99 words over the
31-word vocabulary, 42 % `en`, and about 5 % of documents a near copy of a
uniformly chosen earlier one, with one word appended or the last word
dropped; unit-norm 64-d embeddings around 10 label centroids, with no
planted near-duplicate vectors. The same seed gives byte-identical tables.

Usage: python3 gen_star.py <outDir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
SF = 0.01
NEAR_DUP_SHARE = 0.05


def money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def pick(rng, values, n):
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def fmt(pattern, ids):
    return [pattern % int(i) for i in ids]


def generate(out, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_evt = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_user = max(1, int(15_000 * SF))
    n_doc, n_vec = max(500, int(50_000 * SF)), max(500, int(20_000 * SF))
    os.makedirs(out, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    write("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": fmt("NATION_%d", range(25)),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    ck = np.arange(n_cust)
    write("customer", {
        "c_custkey": pa.array(ck, i64),
        "c_name": fmt("Customer#%09d", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(rng, -1000, 10000, n_cust),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], n_cust)})
    sk = np.arange(n_supp)
    write("supplier", {
        "s_suppkey": pa.array(sk, i64),
        "s_name": fmt("Supplier#%09d", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(rng, -1000, 10000, n_supp)})
    pk = np.arange(n_part)
    colors = pick(rng, ["blue", "cold", "hot", "large", "new", "old", "red",
                        "small"], n_part)
    nouns = pick(rng, ["anvil", "bolt", "gear", "gizmo", "plate", "ring",
                       "rod", "widget"], n_part)
    write("part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{c} {n}" for c, n in zip(colors, nouns)],
        "p_brand": fmt("Brand#%d", rng.integers(1, 26, n_part)),
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    order_date = EPOCH_1995 + rng.integers(0, 2405, n_ord) * np.timedelta64(1, "D")
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(rng, ["O", "P", "F"], n_ord),
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(order_date, pa.timestamp("us")),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(money(rng, 900, 1000, n_line) * qty, 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(rng, ["R", "N", "A"], n_line),
        "l_linestatus": pick(rng, ["O", "F"], n_line),
        "l_shipdate": pa.array(
            order_date[lok] + rng.integers(1, 96, n_line) * np.timedelta64(1, "D"),
            pa.timestamp("us"))})
    # events arrive in id order over 30 days, like a log
    gaps = rng.exponential(1.0, n_evt)
    offs = np.floor(np.cumsum(gaps) / gaps.sum() * (30 * DAY_US - 1)).astype(np.int64)
    write("events", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(EPOCH_2024 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": pick(rng, ["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": fmt('{"k": %d}', rng.integers(0, 100, n_evt))})
    vocab = np.array(VOCAB, dtype=object)
    words = [list(vocab[rng.integers(0, len(VOCAB), int(k))])
             for k in rng.integers(10, 100, n_doc)]
    # near copies of an earlier document: the later one of each pair is
    # what the incremental dedup drops
    for i in np.flatnonzero(rng.random(n_doc - 1) < NEAR_DUP_SHARE) + 1:
        src = words[rng.integers(0, i)]
        words[i] = (src[:-1] if len(src) > 10 and rng.random() < 0.5
                    else src + [vocab[rng.integers(0, len(VOCAB))]])
    texts = [" ".join(w) for w in words]
    langs = np.where(rng.random(n_doc) < 0.42, "en",
                     pick(rng, ["de", "es", "fr", "zh"], n_doc))
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": langs.astype(object),
        "source": fmt("src%d", rng.integers(0, 20, n_doc)),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] * 0.35 + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]))
