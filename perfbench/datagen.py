"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the catalog loads (``temporalvault_spark.catalog.
TABLES``) as one parquet file each, with the column names, types and value
domains of the repository's test data: a TPC-H-shaped star schema, a
30-day ``events`` stream (2024-01-01 .. 2024-01-30, JSON ``props``
payloads), word-soup ``documents`` with planted
near-duplicates, and unit-norm 64-d ``embeddings`` drawn around ten
centres. The seed decides every value; the row counts are fixed by the
size arguments, so two seeds give inputs of the same shape. Timestamp
columns are stored as naive ``TIMESTAMP(NANOS)``, as in the test data, so
the catalog runs its nanosecond conversion on load.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_START = datetime(2024, 1, 1)
EVENTS_DAYS = 30

_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
_EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_P_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
_P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
_LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ns(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[ns]"), type=pa.timestamp("ns"))


def _ts_column(seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(EVENTS_START, "us")
    return _ns(base + (seconds * 1e6).astype("int64").astype("timedelta64[us]"))


def make_events(rng: np.random.Generator, n_rows: int, n_keys: int) -> dict[str, pa.Array]:
    """The event stream: time-ordered ids, every key present."""
    secs = np.sort(rng.uniform(0, EVENTS_DAYS * 86400, n_rows))
    users = rng.integers(0, n_keys, n_rows)
    users[:n_keys] = rng.permutation(n_keys)  # every key has a version
    return {
        "event_id": pa.array(np.arange(n_rows, dtype="int64")),
        "ts": _ts_column(secs),
        "user_id": pa.array(users.astype("int64")),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_rows)]),
    }


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
        for _ in range(n)
    ]
    # ~5% near-duplicates: a copy of an earlier document plus a marker word
    for i in rng.choice(np.arange(n // 2, n), size=max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict[str, pa.Array]:
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vecs.astype("float32")), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    }


def write_catalog(
    out_dir: str,
    seed: int,
    *,
    n_customers: int = 1500,
    n_suppliers: int = 100,
    n_parts: int = 2000,
    n_orders: int = 15000,
    n_lineitems: int = 60000,
    n_events: int = 10000,
    n_keys: int = 150,
    n_documents: int = 500,
    n_embeddings: int = 500,
) -> str:
    """All ten catalog tables (defaults: the shape of the sf0.01 test data)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_customers, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_customers), 2)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_customers)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_suppliers, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_suppliers).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_suppliers), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_parts, dtype="int64")),
        "p_name": pa.array([
            f"{_P_ADJ[a]} {_P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_parts), rng.integers(0, 8, n_parts))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_parts)]),
        "p_type": pa.array(np.array(_P_TYPES)[rng.integers(0, 6, n_parts)]),
        "p_size": pa.array(rng.integers(1, 51, n_parts).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_parts) % 1000) * 0.1, 2)),
    })
    day = np.timedelta64(1, "D")
    start = np.datetime64("1995-01-01", "us")
    o_dates = start + rng.integers(0, 2404, n_orders) * day
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders).astype("int64")),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": _ns(o_dates),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })
    l_order = rng.integers(0, n_orders, n_lineitems)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order.astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_lineitems).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_suppliers, n_lineitems).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitems).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_lineitems).astype("float64")),
        # whole dollars: extendedprice * (1 - discount) then has two decimals,
        # so a revenue sum rounded to cents cannot land on a half cent that
        # Spark's and DuckDB's summation orders round apart
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_lineitems))),
        "l_discount": pa.array(rng.integers(0, 11, n_lineitems) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lineitems) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lineitems)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lineitems)]),
        "l_shipdate": _ns(o_dates[l_order] + rng.integers(1, 122, n_lineitems) * day),
    })
    _write(out_dir, "events", make_events(rng, n_events, n_keys))
    _write(out_dir, "documents", _documents(rng, n_documents))
    _write(out_dir, "embeddings", _embeddings(rng, n_embeddings))
    return out_dir
