"""Seeded input tables for the benchmark, built with NumPy and pyarrow.

The tables have the column names and types of the engine's TPC-H-like
test corpus (``orders``, ``lineitem``, ``events``, ``documents``,
``embeddings``), so the registry queries and their DuckDB oracles run on
them unchanged.  The same seed gives the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big stream query "
    "group filter customer vector"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMBED_DIM = 64
N_LABELS = 10


def _days(rng, n: int, start: dt.datetime, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    off = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array((base + off).astype("datetime64[us]"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, n, 900.0, 500000.0)),
        "o_orderdate": _days(rng, n, dt.datetime(1995, 1, 1), 2400),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def lineitem(rng: np.random.Generator, n_orders: int) -> pa.Table:
    """One to seven lines per order (four on average); (l_orderkey,
    l_linenumber) is unique, so it can serve as the row key."""
    per_order = rng.integers(1, 8, n_orders)
    n = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    n_parts = max(1, n_orders * 2 // 15)
    n_supp = max(1, n_orders // 150)
    return pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders, dtype=np.int64), per_order)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n, 900.0, 100000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _days(rng, n, dt.datetime(1995, 1, 2), 2500),
    })


def events(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]") + start
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(_money(rng, n, 0.01, 490.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random token documents; one in ten is a near-duplicate of an
    earlier one (two tokens replaced), so the near-dup joins find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = list(rng.choice(VOCAB, int(rng.integers(10, 90))))
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n, dtype=np.int32)),
    })


# rows per table at scale factor 1 (the corpus' sf0.1 tables are a tenth)
SF1_ROWS = {
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}


def write_corpus(out_dir: str, seed: int, sf: float, names) -> dict[str, pa.Table]:
    """Generate ``names`` at scale factor ``sf`` into ``out_dir`` as
    ``<name>.parquet``; returns the tables."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = int(SF1_ROWS["orders"] * sf)
    makers = {
        "orders": lambda: orders(rng, n_orders),
        "lineitem": lambda: lineitem(rng, n_orders),
        "events": lambda: events(rng, int(SF1_ROWS["events"] * sf)),
        "documents": lambda: documents(rng, int(SF1_ROWS["documents"] * sf)),
        "embeddings": lambda: embeddings(rng, int(SF1_ROWS["embeddings"] * sf)),
    }
    tables = {}
    for name in names:
        tables[name] = makers[name]()
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return tables
