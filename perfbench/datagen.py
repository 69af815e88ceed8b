"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the operators read (the TPC-H-like star schema,
`events`, `documents`, `embeddings`) as multi-row-group parquet, with
the column names, types and value ranges of the project's test data.
The same (seed, scale) always writes the same rows.

Run as a script so the generator's memory never counts in the
benchmark process:  python3 perfbench/datagen.py OUT_DIR SEED SCALE
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash index join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    rows_per_group = max(1024, -(-table.num_rows // 32))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=rows_per_group)


def _choice(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n), pa.int32()), pa.array(values)
    ).dictionary_decode()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences of 10-100 words."""
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))) for _ in range(n)]
    lang_idx = rng.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in lang_idx]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate(out_dir: str, seed: int, scale: float) -> None:
    """Write every table for `seed` at `scale` (1.0 ≈ 6M lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), max(10, int(10_000 * scale)), int(200_000 * scale)
    n_orders, n_items, n_events = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = max(50, int(15_000 * scale))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}))
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1))}))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_orders),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_orders)),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, n_orders) * DAY_US),
        "o_orderpriority": _choice(rng, PRIORITIES, n_orders)}))
    qty = rng.integers(1, 51, n_items).astype("float64")
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_items), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_items), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_items), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_items), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_items), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_items), 2)),
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_items),
        "l_linestatus": _choice(rng, ("F", "O"), n_items),
        "l_shipdate": _ts(EPOCH_1995_US + (1 + rng.integers(0, 2498, n_items)) * DAY_US)}))
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_events))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])}))
    n_emb = max(100, int(20_000 * scale))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))
    _write(out_dir, "documents", documents_table(rng, max(500, int(50_000 * scale))))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
