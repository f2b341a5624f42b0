"""Seeded input tables for the benchmark.

Writes the ten parquet tables the query surface reads (`region nation
customer supplier part orders lineitem events documents embeddings`)
with the same schemas, value ranges and row-count ratios as the
engine's oracle fixtures, so every query runs and every DuckDB oracle
applies.  Row counts scale linearly with `sf` (sf=0.01 gives 60k
lineitem, 10k events, 500 documents, 500 embeddings).  The same
(seed, sf) always writes the same bytes of data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
_NOUNS = ["ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "panel"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_US_PER_DAY = 86_400_000_000
# epoch µs of the time axes the queries' constants are written against
_ORDER_DAY0 = 9131  # 1995-01-01
_ORDER_DAYS = 2404  # .. 2001-08-01
_SHIP_DAY0 = 9132  # 1995-01-02
_SHIP_DAYS = 2498  # .. 2001-11-04
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * _US_PER_DAY
EMB_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(day0: int, ndays: int, rng, n: int) -> pa.Array:
    days = rng.integers(0, ndays + 1, n) + day0
    return pa.array(days.astype("int64") * _US_PER_DAY, pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _docs(rng, n: int) -> list[str]:
    """Random bags of 10-99 words; 5% of the documents (a fixed count,
    at seeded positions) are an earlier document with ' dup' appended
    once or twice: the near-dup pairs the LSH, simhash and exact-dedup
    queries exist to find."""
    dups = set(rng.choice(np.arange(11, n), size=max(1, n // 20), replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return texts


def _embeddings(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors around 10 weak label centroids (within-label cosine
    about 0.02 above across-label, as in the fixtures)."""
    labels = rng.integers(0, 10, n).astype("int32")
    cent = rng.normal(size=(10, EMB_DIM))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    x = 0.14 * cent[labels] + rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype("float32"), labels


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write all tables under out_dir; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(2, int(15_000 * sf))
    n_docs = max(20, int(50_000 * sf))
    n_emb = max(20, int(50_000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    pk = np.arange(n_part)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(_ORDER_DAY0, _ORDER_DAYS, rng, n_ord),
        "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    }))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(_SHIP_DAY0, _SHIP_DAYS, rng, n_li),
    }))
    # distinct µs ticks across the whole table, so no two points of one
    # series ever share a tick in the base data
    ts = np.unique(rng.integers(0, EVENTS_SPAN_US, n_ev + n_ev // 10 + 16))
    ts = np.sort(rng.permutation(ts)[:n_ev]) + EVENTS_T0_US
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
    }))
    texts = _docs(rng, n_docs)
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    x, labels = _embeddings(rng, n_emb)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_docs, "embeddings": n_emb,
    }
