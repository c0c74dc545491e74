"""Seeded generator for the batch workloads' parquet tables.

Writes one parquet file per table (`<out>/<table>.parquet`) with the schemas
the program's `graft.engine.Tables` loaders and the DuckDB oracle SQL expect
(FIXTURES.md section B). Sizes follow the sf0.001 shape: 150 customers,
1,500 orders, about 6,000 line items, 500 documents and 500 embeddings.

The same seed gives byte-identical tables. Nothing here reads the program.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the stream query row fast small spark group customer line sort hash "
         "batch dup data filter value big key order table scan merge part "
         "window join slow agg column a vector").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
MATERIALS = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
EPOCH_1995 = np.datetime64("1995-01-01", "ms")
DAY_MS = 86_400_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days):
    return pa.array(EPOCH_1995 + days.astype("int64") * np.timedelta64(DAY_MS, "ms"),
                    type=pa.timestamp("ms"))


def dimensions(rng, out, n_cust, n_part, n_supp):
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"part {i} " + " ".join(rng.choice(VOCAB, 2)) for i in range(n_part)],
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_part, 2))],
        "p_type": [f"{t} {m}" for t, m in zip(rng.choice(TYPES, n_part),
                                              rng.choice(MATERIALS, n_part))],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part)})


def facts(rng, out, n_orders, n_cust, n_part, n_supp):
    odays = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(odays),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_orders))})
    lines = np.clip(rng.binomial(12, 0.33, n_orders), 1, 12)
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n = len(okey)
    qty = rng.integers(1, 51, n).astype("float64")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": list(rng.choice(["O", "F"], n)),
        "l_shipdate": _ts(odays[okey] + rng.integers(1, 122, n))})


def documents(rng, out, n_docs):
    """Random-word documents; one in ten is a near copy of an earlier one
    (a word swapped or appended), so the dedup joins find real pairs."""
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            words = texts[rng.integers(0, i)].split()
            if rng.random() < 0.5:
                words[rng.integers(0, len(words))] = str(rng.choice(VOCAB))
            else:
                words.append(str(rng.choice(VOCAB)))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 96))))
        texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, out, n_vecs, dim=64, labels=10):
    """Unit vectors clustered around one random centre per label."""
    centres = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n_vecs)
    vecs = centres[label] + rng.normal(0.0, 1.4, (n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def generate(out, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_supp, n_orders = 150, 200, 10, 1500
    dimensions(rng, out, n_cust, n_part, n_supp)
    facts(rng, out, n_orders, n_cust, n_part, n_supp)
    documents(rng, out, 500)
    embeddings(rng, out, 500)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
