"""Seeded generator of the TPC-H-style tables the operator registry reads.

`write_tables(out_dir, seed)` writes one parquet file per table of
`file_db_spark.catalog.TABLES` (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the column
names and types the operators expect, at the row counts of the
repository's sf0.01 test set. The same seed writes the same rows.

The distributions follow that test set: uniform keys and categories,
order and ship dates over 1995-2001, a month of time-ordered events,
documents drawn from a 30-word vocabulary with ~5% near-duplicates (an
earlier document plus one to three trailing " dup" tokens), and unit
64-dim embeddings around ten labelled centroids.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table (the sf0.01 test set's counts)
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10
#: share of documents written as near-duplicates of an earlier one
NEAR_DUP_SHARE = 0.05

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en", "fr", "es", "zh", "de"], [0.4, 0.15, 0.15, 0.15, 0.15])

_DAY_US = 86_400 * 1_000_000
_D1995 = np.datetime64("1995-01-01", "us")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo: int, hi: int, n: int) -> pa.Array:
    return pa.array(_D1995 + rng.integers(lo, hi, n) * _DAY_US, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            base = texts[int(rng.integers(0, i))].removesuffix(" dup")
            texts.append(base + " dup" * int(rng.integers(1, 4)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS[0], n, p=LANGS[1]).tolist(),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    centroids = rng.standard_normal((N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    vecs = 0.15 * centroids[labels] + rng.standard_normal((n, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def _events(rng) -> pa.Table:
    n = ROWS["events"]
    start = np.datetime64("2024-01-01", "us")
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(start + offsets, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, n),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def tables(seed: int) -> dict[str, pa.Table]:
    """Every table, built from one seeded generator in a fixed order."""
    rng = np.random.default_rng(seed)
    r = ROWS
    out = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(r["customer"], dtype=np.int64),
            "c_name": _names("Customer", r["customer"]),
            "c_nationkey": rng.integers(0, 25, r["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, r["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, r["customer"]).tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(r["supplier"], dtype=np.int64),
            "s_name": _names("Supplier", r["supplier"]),
            "s_nationkey": rng.integers(0, 25, r["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, 0.0, 9999.99, r["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": np.arange(r["part"], dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, r["part"]), rng.integers(0, 8, r["part"]))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, r["part"])],
            "p_type": rng.choice(PART_TYPES, r["part"]).tolist(),
            "p_size": rng.integers(1, 51, r["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + 0.1 * (np.arange(r["part"]) % 200), 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(r["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, r["customer"], r["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], r["orders"]).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, r["orders"]),
            "o_orderdate": _days(rng, 0, 2404, r["orders"]),
            "o_orderpriority": rng.choice(PRIORITIES, r["orders"]).tolist(),
        }),
    }
    n = r["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, r["orders"], n),
        "l_partkey": rng.integers(0, r["part"], n),
        "l_suppkey": rng.integers(0, r["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": _days(rng, 0, 2500, n),
    })
    out["events"] = _events(rng)
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
