"""Seeded tables for the ``sql_battery`` workload.

The harness queries read a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings`` tables, one parquet file each. This module
writes tables of that schema from a seed, scaled by ``scale`` (1.0 gives
the row counts of the repository's sf0.1 test data), so the benchmark
needs no data outside its checkout. Documents include near-duplicates so
the dedup queries find pairs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query key window row table stream merge data big join "
    "vector customer the a and of to in is"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EMB_DIM = 64

TABLES = ("region", "nation", "customer", "lineitem", "events", "documents", "embeddings")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            # near-duplicate of an earlier doc: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(10, 80)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[k] for k in rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    t0 = dt.datetime(2024, 1, 1)
    offsets_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    ts = pa.array(np.datetime64(t0, "us") + offsets_us.astype("timedelta64[us]"))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, len(_EVENT_TYPES), n)],
        "value": np.round(rng.random(n) * 500, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    day0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2498, n).astype("timedelta64[D]").astype("timedelta64[us]")
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(np.arange(n) // 4, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) % 4 + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": [("N", "A", "R")[k] for k in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[k] for k in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(day0 + days),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``out_dir/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    n = lambda base: max(int(base * scale), 50)  # noqa: E731
    n_customers = n(15_000)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_customers), 2),
            "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n_customers)],
        }),
        "lineitem": _lineitem(rng, n(600_000)),
        "events": _events(rng, n(100_000), 1500),
        "documents": _documents(rng, n(5_000)),
        "embeddings": _embeddings(rng, n(2_000)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
