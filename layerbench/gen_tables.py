"""Seeded synthetic parquet tables for the contract ops: ``documents``,
``embeddings`` and ``lineitem``, in the schemas and value ranges of the
engine's TPC-H-ish test tables (TESTDATA.md).

- documents: texts over a 30-word vocabulary (the contract ops use word
  3-shingles because the vocabulary does not grow), 5% near duplicates made
  by appending `` dup`` to an earlier document.
- embeddings: unit-norm float32 vectors in 64 dimensions, labels 0-9.
- lineitem: the TPC-H column set; part and supplier keys form the
  bipartite graph the graph ops walk.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
DIM = 64


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def lineitem(rng: np.random.Generator, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, n) * quantity, 2)
    epoch = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2500, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(rng.integers(0, n_parts, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype(np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(epoch + days, type=pa.timestamp("us")),
    })


def generate(seed: int, out_dir: str, n_docs: int, n_vecs: int, n_orders: int) -> str:
    """Write the three tables as ``<out_dir>/<table>.parquet``; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": documents(np.random.default_rng([seed, 1]), n_docs),
        "embeddings": embeddings(np.random.default_rng([seed, 2]), n_vecs),
        "lineitem": lineitem(np.random.default_rng([seed, 3]), n_orders,
                             n_parts=max(20, n_orders // 8), n_supp=max(5, n_orders // 150)),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
