"""Seeded tables with the schemas and value ranges of the repository's
TPC-H-like test data (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings), small enough that
one pass of the olap queries fits a short run."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3000,
    "lineitem": 12000,
    "events": 2000,
    "event_users": 30,
    "documents": 300,
    "embeddings": 300,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.13, 0.15, 0.14, 0.14]
DUP_EVERY = 20  # one near-duplicate in twenty documents
DIM = 64
LABELS = 10

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return (datetime(y, m, d) - datetime(1970, 1, 1)) // timedelta(microseconds=1)


def _ts(values_us) -> pa.Array:
    return pa.array(np.asarray(values_us, dtype=np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir: str, seed: int) -> dict[str, str]:
    """Writes one parquet file per table; returns name -> path."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SIZES
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2)})

    first, last = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    days = (last - first) // _DAY_US
    odate = first + rng.integers(0, days + 1, n["orders"]) * _DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"])})

    lok = rng.integers(0, n["orders"], n["lineitem"])
    qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    lpart = rng.integers(0, n["part"], n["lineitem"])
    price = 900.0 + (lpart % 1000) / 10.0 + rng.uniform(0, 1200, n["lineitem"])
    disc = rng.integers(0, 11, n["lineitem"]) / 100.0
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": np.round(disc, 2),
        "l_tax": np.round(rng.integers(0, 9, n["lineitem"]) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
        "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 96, n["lineitem"]) * _DAY_US)})

    e0 = _epoch_us(2024, 1, 1)
    ts = np.sort(e0 + rng.integers(0, 30 * _DAY_US, n["events"]))
    tables["events"] = pa.table({
        "event_id": pa.array(range(n["events"]), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n["event_users"], n["events"]), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n["events"]),
        "value": np.round(rng.exponential(40.0, n["events"]) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n["events"])]})

    # every DUP_EVERY-th document copies an earlier original: the
    # duplicate structure (pairs, never chains) is the same for every
    # seed, so the iterative queries run the same number of rounds
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n["documents"]):
        if i % DUP_EVERY == DUP_EVERY - 1:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n["documents"], p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    centers = rng.normal(0.0, 1.0, (LABELS, DIM))
    labels = rng.integers(0, LABELS, n["embeddings"])
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n["embeddings"], DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
