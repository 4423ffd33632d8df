"""Seeded fixture tables for the benchmark.

The benchmark reads only files inside its own checkout, and the fixture
parquet files FIXTURES.md describes live outside it. This module writes
tables with the same names, column types and value domains from a seed, so
the same seed gives byte-identical inputs. Row counts are those of the
sf0.1 tier, the one ``bench.py`` runs on, except ``documents`` and
``embeddings``: at their sf0.1 sizes (5000 and 2000 rows) one pass of the
``llm_dedup`` ids takes about 21 s and their DuckDB twins about 19 s on a
4-core machine, which leaves no time for repeated reps in a run. At 2000
and 1000 rows a pass takes 8.5-11 s, and the shingle and LSH work is still
more than half of each id's time (at 240 documents it was a fixed per-job
cost of about 1.2 s per id).

Properties the engine's operators depend on are varied on purpose:

- ``documents`` carries exact duplicates and near duplicates (a copy with a
  few words replaced), so the dedup operators have pairs to find;
- ``events.user_id`` is Zipf-skewed, so keyed stages see hot keys;
- every foreign key resolves, as FIXTURES.md states for the fixture files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["write_tables", "TABLES"]

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "new", "hot", "small", "large", "cold", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


# Row counts of the sf0.1 tier (FIXTURES.md), but for documents and
# embeddings (see above); lineitem follows from orders at 1-7 lines each.
CUSTOMERS = 15_000
SUPPLIERS = 1_000
PARTS = 20_000
ORDERS = 150_000
EVENTS = 100_000
USERS = 1_500
DOCUMENTS = 2_000
EMBEDDINGS = 1_000
DIM = 64


def _ms(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _zipf_ids(rng, n_ids: int, n: int, a: float = 1.3) -> np.ndarray:
    weights = 1.0 / np.arange(1, n_ids + 1) ** a
    perm = rng.permutation(n_ids)
    return perm[rng.choice(n_ids, size=n, p=weights / weights.sum())]


def _days(rng, start: dt.datetime, span_days: int, n: int) -> pa.Array:
    base = _ms(start)
    ms = base + rng.integers(0, span_days, n) * 86_400_000
    return pa.array(ms, type=pa.int64()).cast(pa.timestamp("ms"))


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 8 and r < 0.05:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 8 and r < 0.20:  # near duplicate: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), size=max(1, len(words) // 12), replace=False):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            length = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), length)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] * 0.6 + rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _tables(seed: int, scale: float) -> dict[str, pa.Table]:
    def n(rows: int) -> int:
        return max(1, int(rows * scale))

    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n(CUSTOMERS)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist(), pa.string()),
    })
    ns = n(SUPPLIERS)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
    })
    npart = n(PARTS)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, npart).tolist(), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(npart) * 0.1, 2), pa.float64()),
    })
    no = n(ORDERS)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist(), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 450000, no), pa.float64()),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, no),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist(), pa.string()),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okeys = np.repeat(np.arange(no), lines)
    linenos = np.concatenate([np.arange(1, k + 1) for k in lines])
    order = rng.permutation(nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys[order], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenos[order], pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 100000, nl), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl).tolist(), pa.string()),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, nl),
    })
    ne = n(EVENTS)
    start_us = _ms(dt.datetime(2024, 1, 1)) * 1000
    ts_us = np.sort(start_us + rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(_zipf_ids(rng, n(USERS), ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne).tolist(), pa.string()),
        "value": pa.array(_money(rng, 0.01, 490.0, ne), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    t["documents"] = _documents(rng, n(DOCUMENTS))
    t["embeddings"] = _embeddings(rng, n(EMBEDDINGS), DIM)
    return t


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> str:
    """Write every table as ``out_dir/<name>.parquet``; returns ``out_dir``.
    ``scale`` multiplies every row count but region's and nation's (the
    closed loops warm up on a tenth)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
