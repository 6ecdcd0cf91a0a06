"""Seeded generator for the benchmark's input tables.

Writes the ten tables the program's batch queries and event generator
read (`<dir>/<table>.parquet`, one file each), with the same columns,
types and value domains as the repository's TPC-H-ish test tables.
Row counts scale with `sf` the way those tables do (orders = 1.5 M x
sf, lineitem = 4 x orders, at least 500 documents and embeddings). The same (sf, seed) gives the same
bytes-for-bytes values.

Three deliberate differences from a plain uniform draw:
  * (l_orderkey, l_linenumber) is unique, so every item event id is
    unique and the streaming dedup only removes the feeder's re-sends;
  * a line ships 1 to 121 days after its order (TPC-H's rule), so the
    late-shipment queries find orders with one late supplier;
  * a tenth of the documents are near-duplicates of an earlier one
    (a few words replaced), so the dedup and similarity queries find
    pairs to report.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

WORDS = ("row the query stream value hash batch sort data big filter dup key "
         "agg scan slow table part a merge window order column join vector "
         "fast spark line small customer group").split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
PART_ADJ = ("blue", "cold", "old", "new", "red", "green", "hot", "big")
PART_NOUN = ("ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "screw")
PART_TYPES = ("ECONOMY", "PROMO", "LARGE", "SMALL", "STANDARD", "MEDIUM")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def generate(out, sf, seed):
    """Write all ten tables for scale factor `sf` under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(100, int(200000 * sf))
    n_orders = max(300, int(1500000 * sf))
    n_events = max(300, int(1000000 * sf))
    n_docs = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1)})

    orderdate = _days(rng, n_orders, "1995-01-01", 2400)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(("P", "O", "F"), n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": orderdate,
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})

    # one to seven lines per order, line numbers 1..k: unique item ids
    lines = rng.integers(1, 8, n_orders)
    n_items = int(lines.sum())
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenos = (np.arange(n_items) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_items).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_items).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_items).astype(np.int64),
        "l_linenumber": linenos,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_items), 2),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_items),
        "l_linestatus": rng.choice(("O", "F"), n_items),
        # shipped 1 to 121 days after the order, as in TPC-H
        "l_shipdate": np.repeat(orderdate, lines)
        + rng.integers(1, 122, n_items).astype("timedelta64[D]")})

    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(150, n_events // 66), n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0.01, 490.02, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 95))))
        texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vec = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
