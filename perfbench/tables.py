"""Seeded generator for the query workload's input tables.

Writes the ten tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``),
one parquet file each, in the shapes the registry expects: a
TPC-H-like star schema, an event stream, a small text corpus with
planted duplicate families, and 64-dim unit embeddings in ten weak
clusters. Row counts follow the scale factor (``sf=0.01`` gives 60,000
lineitem rows). The same seed and scale give the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["small", "red", "blue", "green", "large", "steel", "brass"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "pipe", "valve", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.04:  # same word set as an earlier document
            words = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(rng.permutation(words).tolist()))
            continue
        if i >= 10 and r < 0.08:  # near copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_chars = int(rng.integers(48, 554))
        words = rng.choice(VOCAB, size=n_chars // 3).tolist()
        texts.append(" ".join(words)[:n_chars].strip())
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, size=n).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centroids = rng.normal(size=(10, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, size=n)
    vecs = 0.15 * centroids[labels] + rng.normal(size=(n, dim)) / np.sqrt(dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), type=pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 100)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 1000)
    n_line = n_ord * 4
    n_users = max(int(15_000 * sf), 20)
    n_events = max(int(1_000_000 * sf), 1000)
    n_docs = max(int(50_000 * sf), 100)
    n_emb = max(int(50_000 * sf), 100)

    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    retail = _money(900.0 + (np.arange(n_part) % 1000) / 10.0)
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
            "p_name": [
                f"{PART_WORDS[a]} {PART_NOUNS[b]}"
                for a, b in zip(
                    rng.integers(0, len(PART_WORDS), n_part),
                    rng.integers(0, len(PART_NOUNS), n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
            "p_retailprice": retail,
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, n_ord) * DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
            "l_partkey": pa.array(l_part, type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(qty * retail[l_part] * rng.uniform(1.0, 1.05, n_line)),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, n_line) * DAY_US),
        }
    )
    ev_offsets = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), type=pa.int64()),
            "ts": _ts("2024-01-01", ev_offsets),
            "user_id": pa.array(rng.integers(0, n_users, n_events), type=pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
            "value": np.maximum(_money(rng.exponential(50.0, n_events)), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(directory: str, seed: int, sf: float) -> int:
    """Write every table as ``{directory}/{name}.parquet``; returns the
    total bytes written."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for name, table in make_tables(seed, sf).items():
        path = os.path.join(directory, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
