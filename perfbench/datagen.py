"""Seeded generator for the ten synthetic tables the query workloads read.

The tables mirror the schemas, physical types and value distributions of the
sf0.001 fixtures described in FIXTURES.md (one snappy parquet file with one
row group per table), so every registered query and its DuckDB oracle run
unchanged on them. The same seed always writes the same bytes of data; a
different seed draws new values at the same sizes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.001 fixtures.
SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.44, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DUP_SHARE = 0.05  # documents that repeat another document plus " dup"
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _days(lo: dt.date, hi: dt.date, rng: np.random.Generator, n: int) -> np.ndarray:
    """n midnight timestamps (microseconds since the epoch) in [lo, hi]."""
    base = (dt.datetime.combine(lo, dt.time()) - _EPOCH).days
    span = (hi - lo).days
    return (base + rng.integers(0, span + 1, n)) * 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(n)]
    n_dup = int(n * DUP_SHARE)
    for i in rng.choice(n, n_dup, replace=False):
        texts[i] = texts[int(rng.integers(n))] + " dup"
    texts = [texts[i] for i in rng.permutation(n)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    ts_us = pa.timestamp("us")
    nations = 25
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(nations, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(nations)],
            "n_regionkey": (np.arange(nations) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, nations, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, nations, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n["part"]), rng.choice(PART_NOUN, n["part"]))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]).tolist(),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
            "o_orderdate": pa.array(
                _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), rng, n["orders"]), ts_us),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist(),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n["lineitem"]),
            "l_discount": np.round(rng.integers(0, 11, n["lineitem"]) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n["lineitem"]) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]).tolist(),
            "l_shipdate": pa.array(
                _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), rng, n["lineitem"]), ts_us),
        }),
        "events": pa.table({
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": pa.array(np.sort(
                (dt.datetime(2024, 1, 1) - _EPOCH).days * 86_400_000_000
                + rng.integers(0, 30 * 86_400_000_000, n["events"])), ts_us),
            "user_id": rng.integers(0, n["customer"] // 10, n["events"]).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n["events"]).tolist(),
            "value": np.maximum(np.round(rng.exponential(50.0, n["events"]), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return tables


def write_tables(seed: int, out_dir: str) -> str:
    """Write every table as ``{out_dir}/{name}.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=max(table.num_rows, 1))
    return out_dir
