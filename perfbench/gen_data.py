#!/usr/bin/env python3
"""Seeded fixture generator for the benchmark.

Writes the ten tables graft's `SparkEntry.queries` read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings) as
single-row-group parquet files with the same schemas, cardinality rules and
value distributions as the repository's testdata (TESTDATA.md).

The content of a scale factor is fixed (generated from CONTENT_SEED), so every
run measures the same rows. The run seed only permutes each table's row order:
the same content in a different order, as a reordered copy of a real fixture
would be. The same (sf, seed) pair always yields byte-identical files.

Usage: gen_data.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
VOCAB = ("a the join hash row batch scan column customer filter small slow "
         "merge order vector line table data agg value key stream window "
         "spark part group big sort query fast").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def sizes(sf):
    n = lambda per_sf1: max(1, int(round(per_sf1 * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": n(15_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def money(rng, lo, hi, k):
    return np.round(rng.uniform(lo, hi, k), 2)


def pick(rng, values, k, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), k, p=p)], pa.string())


def ts(us):
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def tables(sf):
    rng = np.random.default_rng(CONTENT_SEED)
    z = sizes(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    k = z["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, k),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k)})
    k = z["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, k)})
    k = z["part"]
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": pick(rng, names, k),
        "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1)})
    k = z["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, z["customer"], k), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], k),
        "o_totalprice": money(rng, 1000.0, 500000.0, k),
        "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2404, k) * DAY_US),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k)})
    k = z["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, z["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, z["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, z["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype("float64"),
        "l_extendedprice": money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], k),
        "l_linestatus": pick(rng, ["F", "O"], k),
        "l_shipdate": ts(EPOCH_1995 + rng.integers(1, 2499, k) * DAY_US)})
    k = z["events"]
    gaps = rng.exponential(1.0, k)
    span = 30 * DAY_US - 60_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": ts(EPOCH_2024 + 5_000_000 + np.cumsum(gaps) / gaps.sum() * span),
        "user_id": pa.array(rng.integers(0, z["users"], k), pa.int64()),
        "event_type": pick(rng, ["click", "error", "purchase", "signup", "view"], k),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)])})
    k = z["documents"]
    texts = []
    for i in range(k):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one or two marker words
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), rng.integers(10, 100))]
            texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": pa.array(texts),
        "lang": pick(rng, ["en", "de", "es", "fr", "zh"], k, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in range(k)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    k = z["embeddings"]
    labels = rng.integers(0, 10, k)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.normal(0.0, 1.0 / 8.0, (k, 64)) + 0.14 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def generate(out_dir, sf, seed):
    """Writes every table of scale factor `sf`, rows permuted by `seed`."""
    os.makedirs(out_dir, exist_ok=True)
    perm_rng = np.random.default_rng([seed, 7])
    for name, t in tables(sf).items():
        t = t.take(pa.array(perm_rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
