"""Seeded batch fixtures for the ``batch_catalog`` workload.

Writes the ten tables the query registry reads (``sources.TABLES``) as
parquet, with the schemas and value ranges of the engine's reference
fixtures (FIXTURES.md), so every catalog query and its DuckDB oracle
run unchanged. The same seed always gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table (the sf0.01 shape of FIXTURES.md)
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
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words texts over a small vocabulary; about 5 % are near
    copies of an earlier text (a few tokens swapped for ``dup``) and
    about 1 % exact copies, so the dedup queries find pairs."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.06:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = "dup"
            texts.append(" ".join(toks))
            continue
        k = int(rng.integers(10, 110))
        text = " ".join(rng.choice(WORDS, k))
        texts.append(text[: int(rng.integers(44, 578))].rstrip())
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(size=(10, EMBED_DIM))
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    nc, ns, npart, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    t["customer"] = {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist()),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    }
    adj, noun = rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart)
    t["part"] = {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart).tolist()),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist()),
    }
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, npart, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl).tolist()),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", nl)),
    }
    ne = n["events"]
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = rng.exponential(30 * 86400 / ne, ne)
    t["events"] = {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(start_us + (np.cumsum(gaps) * 1e6).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, 150, ne)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return {name: pa.table(cols) for name, cols in t.items()}


def write_tables(out_dir: str, seed: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
