"""Deterministic TPC-H-shaped fixtures for the benchmark (scale factor 0.1).

The tables mirror the engine's parquet fixture schemas: region, nation,
customer, supplier, orders and lineitem, plus the corpus tables documents
and embeddings. A tenth-size copy of the corpus tables goes to warm/, for
warming up the corpus operators on the same plans. Values come from the
real TPC-H domains where they exist (region and nation names, market
segments, order priorities), so seeded statement literals drawn from those
domains select rows.

The fixtures are fixed (one internal seed); the benchmark's --seed varies
the statement stream, not the data.

Usage: python3 fixtures.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20240601

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [  # (name, regionkey), TPC-H order
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ("batch part spark line column order small sort vector scan fast "
         "query agg slow value filter customer stream key join large merge "
         "shuffle read write table row group page disk cache").split()
LANGS = ["en", "en", "zh", "es", "fr", "de"]

N_CUSTOMER, N_SUPPLIER, N_PART = 15000, 1000, 20000
N_ORDERS, N_LINEITEM = 150000, 600000
N_DOCS, N_VECS, DIM = 5000, 2000, 64

EPOCH_1995 = np.datetime64("1995-01-01", "D")


def cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def days(rng, n, span):
    d = EPOCH_1995 + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table


def tpch(out, rng):
    write(out, "region", {
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": cents(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": cents(rng, -999.99, 9999.99, N_SUPPLIER)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": cents(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": days(rng, N_ORDERS, 2400),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]})
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * cents(rng, 900, 2100, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": days(rng, N_LINEITEM, 2500)})


def documents(out, rng):
    """~300-char documents over a 31-word vocabulary, with ~5% perturbed
    near-duplicate copies and a few exact duplicates for the dedup family."""
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(N_DOCS):
        if texts and rng.random() < 0.05:
            words = texts[rng.integers(0, len(texts))].split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        elif texts and rng.random() < 0.002:
            texts.append(texts[rng.integers(0, len(texts))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 100))]))
    return write(out, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(out, rng):
    """Unit 64-dim vectors; ~30% are noisy copies of an earlier vector."""
    v = rng.standard_normal((N_VECS, DIM))
    for i in range(1, N_VECS):
        if rng.random() < 0.3:
            v[i] = v[rng.integers(0, i)] + 0.35 * rng.standard_normal(DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32())})


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)
    tpch(out, rng)
    warm = os.path.join(out, "warm")
    os.makedirs(warm)
    for name, table in (("documents", documents(out, rng)), ("embeddings", embeddings(out, rng))):
        pq.write_table(table.slice(0, table.num_rows // 10), os.path.join(warm, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1])
