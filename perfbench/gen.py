"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(workload, seed)`` and is written
before the Spark session starts; the engine only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: tables the served registry queries read
SERVING_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
)

#: row counts of the generated tables (the shape of the engine's sf0.01
#: test data; region and nation are fixed at 5 and 25)
SERVING_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    d0 = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - d0).astype(int))
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def gen_serving_tables(out_dir: str, seed: int) -> str:
    """The tables of :data:`SERVING_ROWS`, with the column names, types
    and value domains of the engine's test data."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SERVING_ROWS
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n["customer"])],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{_PADJ[a]} {_PNOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n["part"])],
        "p_type": [_PTYPES[j] for j in rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n["orders"])],
    })
    m = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })
    e = n["events"]
    t0 = np.datetime64(dt.datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    _write(out_dir, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 150, e).astype(np.int64),
        "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, e)],
        "value": _money(rng, 0.01, 500.0, e),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, e)],
    })
    return out_dir
