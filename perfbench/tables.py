"""Seeded stand-in for the driver's query tables.

Writes the ten tables the registered queries read (``region`` …
``embeddings``), one parquet file each with one row group, with the
column names, types and value grids of the driver testdata: money on a
cent grid, discounts and taxes on a percent grid, midnight order and
ship dates, microsecond event timestamps, a 31-word document vocabulary
with planted near-duplicates, and unit-norm 64-d embeddings around ten
labelled centroids. Row counts follow the testdata's sf0.01 column; the
seed changes values only.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

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
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a batch customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value window "
    "index build plan cost shard"
).split()
DIM = 64


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(np.int64) + 1, n)).astype("datetime64[us]")


def _documents(rng) -> dict:
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:  # exact re-post
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.15:  # near-duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    centroids = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = centroids[labels] + rng.normal(scale=0.9, size=(n, DIM))
    # near-duplicates (never exact: exact copies tie in every top-k)
    dup = np.flatnonzero(rng.random(n) < 0.04)
    src = rng.integers(0, n, dup.size)
    vecs[dup] = vecs[src] + rng.normal(scale=1e-3, size=(dup.size, DIM))
    labels[dup] = labels[src]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def build(seed: int, fraction: float = 1.0) -> dict[str, pa.Table]:
    """``fraction`` scales the TPC-H-style tables and ``events``; the
    corpus tables keep their size, as in the testdata's sf0.001."""
    rng = np.random.default_rng(seed)
    n = {k: v if k in ("documents", "embeddings") else round(v * fraction) for k, v in ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n["customer"])],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n["part"])],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]).astype(np.int64)),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n["orders"])],
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n["orders"])],
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n["part"], m).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, m).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, m)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, m)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, e).astype("timedelta64[us]"))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, e).astype(np.int64)),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, e)],
            "value": _cents(rng, 0.01, 490.02, e),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = pa.table(_documents(rng))
    t["embeddings"] = _embeddings(rng)
    return t


def write(seed: int, root: str, fraction: float = 1.0) -> None:
    os.makedirs(root, exist_ok=True)
    for name, table in build(seed, fraction).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"), row_group_size=1 << 30)
