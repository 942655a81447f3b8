"""Seeded input tables for the benchmark workloads.

The tables mimic the columns and value ranges of the TPC-H-derived parquet
the library's ``__spark_entry__`` derivations read (``lineitem``,
``orders``) plus the text and embedding corpora of the web workload.
Every value is a pure function of ``seed``: the same seed writes the same
files byte for byte, so a run's inputs can be rebuilt from its seed alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one tenth of sf0.1: 15k orders carry ~60k line items
N_ORDERS = 15_000
N_DOCS = 1_000
N_VECS = 1_000
DIM = 64
N_CLUSTERS = 16

_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big query filter "
    "group stream customer vector"
).split()


def _lineitem(rng: np.random.Generator) -> pa.Table:
    """Each line number is drawn uniformly from 1..7, so the segment tables
    derived from line 1 and line 2 come out at about the same size."""
    lines = rng.integers(1, 8, N_ORDERS)
    orderkey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    n = len(orderkey)
    linenumber = rng.integers(1, 8, n).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    return pa.table({
        "l_orderkey": orderkey,
        "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
    })


def _orders(rng: np.random.Generator) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, 1_500, N_ORDERS, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, N_ORDERS), 2),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    """Random word sequences; one doc in five is a copy of an earlier doc
    with one word replaced, so minhash LSH has near-duplicates to find."""
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        else:
            words = list(rng.choice(vocab, int(rng.integers(10, 80))))
        texts.append(" ".join(words))
    return pa.table({"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts})


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit vectors scattered around ``N_CLUSTERS`` random centres."""
    centres = rng.normal(size=(N_CLUSTERS, DIM))
    label = rng.integers(0, N_CLUSTERS, N_VECS).astype(np.int32)
    vecs = centres[label] + 0.5 * rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label,
    })


TABLES = {
    "lineitem": _lineitem,
    "orders": _orders,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_inputs(out_dir: str, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(TABLES.items()):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
