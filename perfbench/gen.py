"""Seeded input generator for the benchmark.

Writes the star-schema and event tables the workloads read, with the
schemas and value ranges of the tables the query registry is written
against. Every table is a directory of parquet part files. The same seed
always gives byte-identical inputs.

Usage: python3 perfbench/gen.py <out_dir> <seed> <table,table,...> [orders]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 star schema; lineitem is derived from orders
# (about 4 lines per order, like the registry's reference tables).
SIZES = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
         "orders": 150_000, "events": 100_000, "documents": 2_000,
         "embeddings": 2_000}
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
EPOCH_1995 = np.datetime64("1995-01-01", "ms")


def write(out, name, table):
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-00000.parquet"))


def money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def days(rng, n, span):
    return EPOCH_1995 + rng.integers(0, span, n).astype("timedelta64[D]")


def region():
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": names})


def nation():
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(rng):
    n = SIZES["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)]})


def supplier(rng):
    n = SIZES["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})


def part(rng):
    n = SIZES["part"]
    adj = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
    types = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [types[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)})


def orders(rng, n):
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, SIZES["customer"], n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": money(rng, 1000, 500000, n),
        "o_orderdate": pa.array(days(rng, n, 2404), pa.timestamp("ms")),
        "o_orderpriority": [prio[i] for i in rng.integers(0, 5, n)]})


def lines(rng, orderkeys, counts):
    """Lineitem rows for the given orders; part keys are distinct within an
    order (a random start plus strictly positive steps below the key range)."""
    n = int(counts.sum())
    ok = np.repeat(orderkeys, counts)
    first = np.cumsum(counts) - counts  # row index of each order's first line
    lineno = np.arange(n) - np.repeat(first, counts)
    steps = rng.integers(1, 1600, n)  # 12 lines x 1600 < the part key range
    steps[first] = rng.integers(0, SIZES["part"], len(counts))
    csum = np.cumsum(steps)
    pk = (csum - np.repeat(csum[first] - steps[first], counts)) % SIZES["part"]
    return pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SIZES["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(lineno + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(days(rng, n, 2499), pa.timestamp("ms"))})


def lineitem(rng, n_orders):
    counts = 1 + rng.binomial(11, 0.28, n_orders)
    return lines(rng, np.arange(n_orders), counts)


def events(rng):
    n = SIZES["events"]
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, month_us, n)).astype("timedelta64[us]")
    kinds = ["signup", "click", "error", "view", "purchase"]
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": [kinds[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def documents(rng):
    """Word-salad documents of 10-100 words over a 30-word vocabulary, with
    a seeded share of exact copies (1 %) and of documents that repeat a
    12-word span of an earlier one (5 %), so the dedup operators find
    something."""
    n = SIZES["documents"]
    texts = []
    for i in range(n):
        words = [WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(10, 101))]
        kind = rng.random()
        if i and kind < 0.01:
            texts.append(texts[rng.integers(0, i)])
            continue
        if i and kind < 0.06:
            src = texts[rng.integers(0, i)].split()
            if len(src) >= 12:
                at = rng.integers(0, len(src) - 11)
                words[:12] = src[at:at + 12]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng):
    """Unit-norm 64-dimensional float vectors around ten seeded centres
    (the label)."""
    n = SIZES["embeddings"]
    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(scale=0.6, size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def main():
    out, seed, tables = sys.argv[1], int(sys.argv[2]), sys.argv[3].split(",")
    n_orders = SIZES["orders"] if len(sys.argv) < 5 else int(sys.argv[4])
    # one independent stream per table, so adding a table never shifts
    # another table's values
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(
        ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"])}
    for t in tables:
        if t in ("region", "nation"):
            table = region() if t == "region" else nation()
        elif t in ("orders", "lineitem"):
            table = globals()[t](rngs[t], n_orders)
        else:
            table = globals()[t](rngs[t])
        write(out, t, table)


if __name__ == "__main__":
    main()
