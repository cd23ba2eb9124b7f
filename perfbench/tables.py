"""Fixed input tables for the ``operators_mix`` workload.

The registry rows read ten parquet tables from one directory: a
TPC-H-like star schema, an ``events`` stream, a ``documents`` corpus and
an ``embeddings`` table. This module writes them in the shape and value
domains of the repository's sf0.01 test data (same column names and
types, same row counts, same vocabularies), from a fixed seed: the
tables are the same in every run, and the run's seed picks only which
rows of the registry are drawn and in what order.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VOCAB = (
    "a agg batch big column customer data filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window fast"
).split()
LANG_SHARE = {"en": 0.44, "de": 0.14, "es": 0.14, "fr": 0.14, "zh": 0.14}
ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}
US_PER_DAY = 86_400 * 1_000_000


def _ts(days_from: str, days: np.ndarray) -> pa.Array:
    """Midnight timestamps ``days`` after ``days_from`` (no time zone)."""
    base = np.datetime64(days_from, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(root: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(root, f"{name}.parquet"))


def _documents(rng: np.random.Generator) -> pa.Table:
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # a near duplicate: an earlier document with a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    langs = rng.choice(list(LANG_SHARE), size=n, p=list(LANG_SHARE.values()))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, dims: int = 64, labels: int = 10) -> pa.Table:
    n = ROWS["embeddings"]
    label = rng.integers(0, labels, size=n)
    centres = rng.normal(size=(labels, dims))
    vecs = centres[label] * 0.35 + rng.normal(size=(n, dims))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _events(rng: np.random.Generator) -> pa.Table:
    n = ROWS["events"]
    offsets = rng.integers(0, 30 * US_PER_DAY, size=n)
    ts = np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, size=n), pa.int64()),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], size=n).tolist(),
        "value": np.round(rng.exponential(20.0, size=n) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
    })


def _star(rng: np.random.Generator) -> dict[str, pa.Table]:
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = ROWS["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], size=n
        ).tolist(),
    })
    n = ROWS["supplier"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n), 2),
    })
    n = ROWS["part"]
    adjectives = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
    nouns = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
    price = 900.0 + (np.arange(n) % 1000) / 10.0
    part = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n)],
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], size=n
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, size=n), pa.int32()),
        "p_retailprice": price,
    })
    n = ROWS["orders"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], size=n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=n), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, size=n)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n
        ).tolist(),
    })
    n = ROWS["lineitem"]
    partkey = rng.integers(0, ROWS["part"], size=n)
    qty = rng.integers(1, 51, size=n).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], size=n), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], size=n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey], 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], size=n).tolist(),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, size=n)),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def generate(root: str) -> dict[str, int]:
    """Write the ten tables under ``root``; returns rows per table."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    tables = _star(rng)
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    for name, table in tables.items():
        _write(root, name, table)
    return {name: t.num_rows for name, t in tables.items()}
