"""Seeded generator for the benchmark's input tables.

Writes the same ten parquet tables, with the same column names, types
and value domains, as the star-schema-plus-events test data the graft
entries are written against: region, nation, customer, supplier, part,
orders, lineitem, events, documents and embeddings. Row counts follow
the scale factor `sf` (lineitem = 6,000,000 x sf); the documents and
embeddings tables can be multiplied on top of that (`text_mult`) for
the data-proportional pairs workload.

The same (sf, text_mult, seed) always gives byte-identical values: the
seed picks every value, never a row count, so runs with different seeds
do the same amount of work.

Usage: python3 gen.py <out_dir> <sf> <text_mult> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIMS = 64
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = 788_918_400 * 1_000_000      # 1995-01-01T00:00:00Z in micros
EPOCH_2024 = 1_704_067_200 * 1_000_000    # 2024-01-01T00:00:00Z in micros


def ts(us):
    """Naive (not UTC-adjusted) microsecond timestamps, as in the test data."""
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # 5 % near-duplicates: an earlier document with one marker word inserted
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        src = texts[int(rng.integers(0, i))].split(" ")
        src.insert(int(rng.integers(0, len(src) + 1)), "dup")
        texts[i] = " ".join(src)
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def gen_embeddings(rng, n):
    centers = rng.normal(0.0, 0.009, (10, EMB_DIMS))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(0.0, 0.125, (n, EMB_DIMS))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIMS + 1, EMB_DIMS, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    }


def generate(out, sf, text_mult, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ts(EPOCH_1995 + rng.integers(1, 2500, n_li) * DAY_US)})
    gaps = rng.exponential(26.0, n_ev) * 1_000_000
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts(EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    write(out, "documents", gen_documents(rng, int(50_000 * sf * text_mult)))
    write(out, "embeddings", gen_embeddings(rng, int(20_000 * sf * text_mult)))


if __name__ == "__main__":
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
