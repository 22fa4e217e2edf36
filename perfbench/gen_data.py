#!/usr/bin/env python3
"""Deterministic synthetic tables for the graft benchmark.

Writes the ten parquet tables every ``SparkEntry.queries`` key reads
(TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``), so the benchmark needs nothing outside its checkout.
With the default seed the tables equal the project's reference test
data value for value at sf 0.001, 0.01 and 0.1 (perfbench/README.md,
"Data"); every draw below is in the order that reproduces them:

- ``customer``/``supplier``/``part``/``orders``/``lineitem`` scale with
  ``sf`` (sf 0.01: 1.5k customers, 15k orders, 60k line items);
- ``events``: 1M * sf events, uniform over 30 days of 2024-01, users
  uniform over 15k * sf ids, five event types, exponential values;
- ``documents``: bag-of-words texts over a 30-word vocabulary, 5 % of
  them planted near-duplicates (another document's text + ``dup``);
- ``embeddings``: unit-norm Gaussian 64-d vectors with ten labels.

Usage: python3 perfbench/gen_data.py <out_dir> <sf> [seed=42]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DAY_US = 86_400_000_000


def _days(start, n_days, size, rng):
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, size) * DAY_US


def _ts(a):
    return pa.array(a, type=pa.timestamp("us"))


def _money(a):
    return np.round(a, 2)


def base_tables(sf, seed):
    """Every table at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    pick = lambda xs, n: pa.array(np.asarray(xs)[rng.integers(0, len(xs), n)])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(_days("1995-01-01", 2405, n_ord, rng)),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng.uniform(900.0, 105000.0, n_line)),
        "l_discount": _money(rng.uniform(0.0, 0.1, n_line)),
        "l_tax": _money(rng.uniform(0.0, 0.08, n_line)),
        "l_returnflag": pick(["R", "A", "N"], n_line),
        "l_linestatus": pick(["O", "F"], n_line),
        "l_shipdate": _ts(_days("1995-01-02", 2499, n_line, rng))})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    # event time: uniform seconds over 30 days, to ns, truncated to us
    sec = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(start + (sec * 1e9).astype(np.int64) // 1000),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": _money(rng.exponential(50.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))])
             for _ in range(n_doc)]
    # 5 % planted near-duplicates: another document's text + " dup",
    # applied in order (a copy may copy an earlier copy)
    n_dup = int(0.05 * n_doc)
    for i, j in zip(rng.choice(n_doc, n_dup, replace=False), rng.integers(0, n_doc, n_dup)):
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def generate(out_dir, sf, seed=42):
    """Write the tables and a manifest of row counts; returns the counts."""
    t = base_tables(sf, seed)
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in t.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        counts[name] = pq.ParquetFile(path).metadata.num_rows
        if counts[name] != table.num_rows:
            raise SystemExit(f"row count mismatch in {path}")
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"sf": sf, "seed": seed, "rows": counts}, f)
    return counts


if __name__ == "__main__":
    a = sys.argv[1:]
    print(json.dumps(generate(a[0], float(a[1]), int(a[2]) if len(a) > 2 else 42)))
