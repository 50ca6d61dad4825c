"""Seeded generator for the query suite's input tables.

Writes the ten parquet tables the headline queries read (a TPC-H-ish star
schema, an ``events`` stream, a text corpus and an embedding corpus) with
the column names and types of the repository's reference data. Everything
derives from one ``numpy`` generator seeded by the workload seed, so the
same seed writes byte-identical inputs.

Planted properties the queries depend on:

* documents: a 30-word vocabulary, 10-99 words per document, about 4% exact
  duplicates and 6% near-duplicates (a few words edited, ``dup`` appended),
  so the n-gram, MinHash, SimHash and component queries have pairs to find;
* embeddings: unit vectors around ten centres, about 8% near-copies of an
  earlier vector, so the near-dup and ANN queries have neighbours;
* customers: every market segment present, including ``BUILDING``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at the benchmark's scale (about the repository's sf0.01)
SIZES = {
    "customer": 1_000,
    "supplier": 80,
    "part": 1_000,
    "orders": 10_000,
    "lineitem": 40_000,
    "events": 8_000,
    "documents": 400,
    "embeddings": 256,
}

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64

_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EPOCH_2024 = dt.datetime(2024, 1, 1)


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base_us + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 10 and r < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + rng.normal(scale=1.2, size=(n, EMB_DIM))
    for i in range(8, n):
        if rng.random() < 0.08:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.05, size=EMB_DIM)
            labels[i] = labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    n = SIZES
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n["customer"])]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": pa.array([f"part {i}" for i in range(n["part"])]),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(11, 56, n["part"])]),
            "p_type": pa.array([f"TYPE {j}" for j in rng.integers(0, 150, n["part"])]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": pa.array(_money(rng, 900.0, 2100.0, n["part"])),
        }
    )
    days = 365 * 6
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": pa.array([("O", "F", "P")[j] for j in rng.integers(0, 3, n["orders"])]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n["orders"])),
            "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, days, n["orders"]) * 86_400_000_000),
            "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n["orders"])]),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, nl)]),
            "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, nl)]),
            "l_shipdate": _ts(_EPOCH_1995, rng.integers(0, days + 300, nl) * 86_400_000_000),
        }
    )
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(_EPOCH_2024, np.sort(rng.integers(0, month_us, ne))),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, ne)]),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2) + 0.01),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)]),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])

    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
