"""Seeded generator for the benchmark corpus.

Writes the ten tables `graft.Tables` loads (`region` ... `embeddings`)
as single-row-group snappy parquet files, with the column names and
physical types the program's schema assertions accept. The shapes
follow the synthetic TPC-H-like corpus the engine is developed
against: uniform keys and dates, exponential event values, documents
drawn from a 30-word vocabulary with 5 % planted near-duplicates
(a copy of an earlier document plus " dup"), and unit-norm 64-dim
float embeddings.

Row counts scale with `sf` (sf 0.01 gives 60k lineitems, 10k events,
500 documents and 500 embeddings). Same (seed, sf) gives the same
bytes-level content.

Usage: python3 perfbench/gen.py <out_dir> <seed> [sf]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

EPOCH_1995 = np.datetime64("1995-01-01", "D")


def cents(rng, lo, hi, n):
    """Uniform money amounts with exactly two decimals."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def days(rng, start, end, n):
    lo = (np.datetime64(start, "D") - EPOCH_1995).astype(int)
    hi = (np.datetime64(end, "D") - EPOCH_1995).astype(int)
    d = EPOCH_1995 + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def generate(out, seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(200, int(200000 * sf))
    n_ord = max(1500, int(1500000 * sf))
    n_users = max(15, int(15000 * sf))
    n_ev = max(1000, int(1000000 * sf))
    n_doc = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), i32),
                   "r_name": pa.array(REGIONS)}
    t["nation"] = {"n_nationkey": pa.array(range(25), i32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(cents(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)}
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(cents(rng, -999.99, 9999.99, n_supp), f64)}
    pk = np.arange(n_part)
    t["part"] = {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array((900000 + (pk % 1000) * 100) / 1000.0,
                                  f64)}
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(cents(rng, 1000, 500000, n_ord), f64),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)}
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = {
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(cents(rng, 900, 105000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": pick(rng, ["F", "O"], n_li),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", n_li)}
    # events: one month of sorted microsecond timestamps
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])}
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(x) for x in texts], i64)}
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)}
    os.makedirs(out, exist_ok=True)
    for name, cols in t.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows),
                       compression="snappy")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
