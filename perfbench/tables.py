"""Seeded synthetic input tables for the operator workload.

The registry queries read ``<root>/<table>.parquet`` for the
TPC-H-like tables (region, nation, customer, supplier, part, orders,
lineitem), a clickstream (``events``), a text corpus (``documents``)
and unit embeddings (``embeddings``).  This module writes all of them
from one seed, with the schemas and value vocabularies the queries
filter on (``ASIA``, ``NATION_7``, ``PROMO``, order dates 1995-2001,
``lang = 'en'``, ...), so every query returns rows.

The corpus plants near-duplicate documents (a copy of another with its
last word changed) so the dedup operators find pairs whose word-3-gram
Jaccard is at least 0.9, far above their 0.5 threshold.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "valve", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector"
).split()

# rows per table; lineitem and orders dominate the join queries
SIZES = {
    "customer": 600, "supplier": 40, "part": 800, "orders": 6000,
    "lineitem": 24000, "events": 4000, "documents": 240, "embeddings": 240,
}
EMBED_DIM = 64
N_USERS = 60
N_PLANTED = 12


def _ts(start: datetime.datetime, seconds: np.ndarray) -> pa.Array:
    micros = int(start.timestamp() * 1e6) + (seconds * 1e6).astype(np.int64)
    return pa.array(micros, type=pa.timestamp("us"))


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def write_tables(root: str, seed: int) -> dict[str, int]:
    """Write every table under ``root``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n = SIZES
    epoch = datetime.datetime(1995, 1, 1, tzinfo=datetime.timezone.utc)
    span_s = (datetime.datetime(2001, 8, 1, tzinfo=datetime.timezone.utc) - epoch).total_seconds()

    _write(root, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(root, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(root, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    _write(root, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2)})
    _write(root, "part", {
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n["part"]),
                                              rng.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + 0.1 * np.arange(n["part"]), 2)})
    _write(root, "orders", {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n["orders"]), 2),
        "o_orderdate": _ts(epoch, rng.integers(0, int(span_s) // 86400, n["orders"]) * 86400.0),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"])})
    li = n["lineitem"]
    _write(root, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], li),
        "l_partkey": rng.integers(0, n["part"], li),
        "l_suppkey": rng.integers(0, n["supplier"], li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(epoch, rng.integers(1, int(span_s) // 86400 + 95, li) * 86400.0)})

    ev = n["events"]
    gaps = rng.exponential(30 * 86400 / ev, ev)
    _write(root, "events", {
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": _ts(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc), np.cumsum(gaps)),
        "user_id": rng.integers(0, N_USERS, ev),
        "event_type": rng.choice(EVENT_TYPES, ev),
        "value": np.round(rng.exponential(50, ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]})

    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(30, 90))) for _ in range(nd)]
    # planted near-duplicates: a document of the second half becomes a
    # copy of one of the first half with its last word replaced, which
    # changes at most one of its 28 or more word 3-grams
    for i in rng.choice(np.arange(nd // 2, nd), N_PLANTED, replace=False):
        words = texts[int(rng.integers(0, nd // 2))].split()
        words[-1] = "planted"
        texts[i] = " ".join(words)
    _write(root, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    ne = n["embeddings"]
    centers = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, ne)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(ne, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(root, "embeddings", {
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return {"region": 5, "nation": 25, **n}
