"""Seeded query tables for the `query` workload.

The registered queries read ten parquet tables (`__spark_entry__.TABLES`):
a TPC-H-like star schema, an `events` stream, a `documents` corpus and an
`embeddings` table. This module writes tables with the same schemas and
value shapes, so the benchmark needs nothing outside its checkout. Spatial queries derive lon/lat from integer keys,
so their point sets depend only on the key ranges generated here.

A run's `--seed` seeds the generator: every seed gives tables of the same
sizes and shapes with different values, so the query plans and their
costs stay comparable across seeds while the outputs differ.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table: "bench" has the sizes of the sf0.01 fixture the
# correctness gate uses, "toy" those of sf0.001 with a smaller corpus
SCALES = {
    "bench": dict(customer=1500, supplier=100, part=2000, orders=15000,
                  lineitem=60000, events=10000, documents=500, embeddings=500),
    "toy": dict(customer=150, supplier=10, part=200, orders=1500,
                lineitem=6000, events=1000, documents=200, embeddings=200),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["red", "blue", "green", "small", "big", "hot", "cold", "old"],
              ["widget", "bolt", "gear", "ring", "plate", "nut", "pipe", "valve"])
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.42, 0.15, 0.15, 0.14, 0.14])


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    """Naive timestamps base + seconds, whatever the process time zone."""
    base_us = (base - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    return pa.array(base_us + (seconds * 1e6).astype(np.int64), type=pa.timestamp("us"))


def _days(rng, n: int, start: datetime, end: datetime) -> pa.Array:
    span = (end - start).days
    return _ts(start, rng.integers(0, span + 1, n).astype(np.float64) * 86400.0)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
             for _ in range(n)]
    # ~5% near-duplicates: another document's text plus a marker token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS[0], n, p=LANGS[1]), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(sizes: dict[str, int], seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, a pure function of (sizes, seed)."""
    rng = np.random.default_rng(seed)
    c, s, p, o, li, ev = (sizes[k] for k in
                          ("customer", "supplier", "part", "orders", "lineitem", "events"))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(_money(rng, c, -999.99, 9999.99), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, c), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(_money(rng, s, -999.99, 9999.99), pa.float64()),
    })
    names = [f"{a} {b}" for a in PART_WORDS[0] for b in PART_WORDS[1]]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array(rng.choice(names, p), pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, p), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
                                  pa.float64()),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o), pa.string()),
        "o_totalprice": pa.array(_money(rng, o, 1000.0, 500000.0), pa.float64()),
        "o_orderdate": _days(rng, o, datetime(1995, 1, 1), datetime(2001, 8, 1)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, o), pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, li, 900.0, 105000.0), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], li), pa.string()),
        "l_shipdate": _days(rng, li, datetime(1995, 1, 2), datetime(2001, 11, 4)),
    })
    month = timedelta(days=30).total_seconds()
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ev), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1), np.sort(rng.uniform(0, month, ev))),
        "user_id": pa.array(rng.integers(0, max(ev // 66, 10), ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, ev), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
                          pa.string()),
    })
    t["documents"] = _documents(rng, sizes["documents"])
    t["embeddings"] = _embeddings(rng, sizes["embeddings"])
    return t


def write(out: str, scale: str, seed: int) -> str:
    """Write the tables for (scale, seed) as parquet files under out."""
    os.makedirs(out, exist_ok=True)
    for name, table in generate(SCALES[scale], seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return out
