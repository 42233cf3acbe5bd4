"""Deterministic tables for the ``stored_analytics`` workload.

Writes the five tables the query mix reads (customer, orders, lineitem,
events, documents) as single-row-group parquet files with the column names,
types and value shapes of the repository's TPC-H-ish fixtures. Row counts
scale with ``sf`` like the fixtures do (sf 0.01 -> 60,000 lineitem rows).

Everything is drawn from one ``numpy`` generator seeded by ``data_seed``, so
the same seed writes byte-identical files. The benchmark keeps the data seed
fixed: its ``--seed`` only changes the order in which a pass runs the
queries, so every seed measures the same data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "de", "es", "fr", "zh")  # en twice: ~40% of docs
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)

_DAY_US = 86_400 * 1_000_000


def _days(start: str, rng: np.random.Generator, lo: int, hi: int, n: int):
    base = np.datetime64(start, "us").astype(np.int64)
    days = rng.integers(lo, hi, n)
    return pa.array(base + days * _DAY_US, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )


def orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": _days("1995-01-01", rng, 0, 2405, n),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )


def lineitem(rng: np.random.Generator, n: int, n_orders: int, sf: float) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit = rng.uniform(900.0, 2100.0, n)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n).astype(np.int64)),
            "l_partkey": pa.array(
                rng.integers(0, max(1, int(200_000 * sf)), n).astype(np.int64)
            ),
            "l_suppkey": pa.array(
                rng.integers(0, max(1, int(10_000 * sf)), n).astype(np.int64)
            ),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * unit, 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("F", "O"), n),
            "l_shipdate": _days("1995-01-02", rng, 0, 2499, n),
        }
    )


def events(rng: np.random.Generator, n: int) -> pa.Table:
    # one month of traffic: exponential gaps, so ts is strictly increasing
    gaps = rng.exponential(30 * _DAY_US / n, n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(1, int(n * 0.015)), n).astype(np.int64)
            ),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few words swapped and
            # a "dup" marker — gives the MinHash/LSH query real pairs
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
            words.append("dup")
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


TABLES = ("customer", "orders", "lineitem", "events", "documents")


def write_tables(out_dir: str, sf: float, data_seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(data_seed)
    n_cust = max(1, int(150_000 * sf))
    n_orders = max(1, int(1_500_000 * sf))
    tables = {
        "customer": customer(rng, n_cust),
        "orders": orders(rng, n_orders, n_cust),
        "lineitem": lineitem(rng, max(1, int(6_000_000 * sf)), n_orders, sf),
        "events": events(rng, max(1, int(1_000_000 * sf))),
        "documents": documents(rng, max(1, int(50_000 * sf))),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
