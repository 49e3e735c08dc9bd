"""Seeded generator for the query workloads' input tables.

Writes the ten tables the registry queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the column names, types and value domains of the
engine's TPC-H-ish test tables. Row counts follow the 0.01 scale factor
(60,000 lineitem rows): at that size a query's time is mostly driver
build and job scheduling, which is what the query workloads measure.

The same seed gives byte-identical files; only numpy's seeded generator
is used, and parquet is written without timestamps in its metadata.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: rows per table at scale factor 0.01
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _days(rng: np.random.Generator, n: int, start: int, stop: int) -> np.ndarray:
    """Whole days in [start, stop) as microsecond timestamps."""
    day = 86_400 * 1_000_000
    return (start + rng.integers(0, (stop - start) // day, n) * day).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    parts = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(parts, dtype=np.int64),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, parts), rng.choice(PART_NOUN, parts)
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, parts)],
        "p_type": rng.choice(PART_TYPES, parts),
        "p_size": rng.integers(1, 51, parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 2),
    })
    orders = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders),
        "o_totalprice": _money(rng, orders, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, orders, _us(1995, 1, 1), _us(2001, 8, 2)),
        "o_orderpriority": rng.choice(PRIORITIES, orders),
    })
    items = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, orders, items).astype(np.int64),
        "l_partkey": rng.integers(0, parts, items).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], items).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, items).astype(np.int32),
        "l_quantity": rng.integers(1, 51, items).astype(np.float64),
        "l_extendedprice": _money(rng, items, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, items) / 100.0,
        "l_tax": rng.integers(0, 9, items) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], items),
        "l_linestatus": rng.choice(["F", "O"], items),
        "l_shipdate": _days(rng, items, _us(1995, 1, 2), _us(2001, 11, 5)),
    })
    ev = n["events"]
    start = _us(2024, 1, 1)
    month = 30 * 86_400 * 1_000_000
    out["events"] = pa.table({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": np.sort(start + rng.integers(0, month, ev)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ev),
        "value": np.round(rng.uniform(0.01, 490.0, ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    })
    docs = n["documents"]
    texts = []
    for i in range(docs):
        words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        if i % 20 == 0:
            words.append("dup")
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, docs),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = n["embeddings"]
    labels = rng.integers(0, 10, vecs)
    centers = rng.normal(size=(10, EMBED_DIM))
    x = rng.normal(size=(vecs, EMBED_DIM)) + 0.15 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write_tables(seed: int, target_dir: str) -> dict[str, int]:
    """Write every table to ``<target_dir>/<name>.parquet``; returns row
    counts per table."""
    os.makedirs(target_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(target_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
