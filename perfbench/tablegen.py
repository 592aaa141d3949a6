"""Seeded fixture tables in the TESTDATA.md schema, for the analytics workload.

Writes ``events``, ``orders`` and ``supplier`` parquet files with the
column names, types and value domains of the fixtures that TESTDATA.md
describes: uniform draws, the same categorical values, the same value
and date ranges, and the same rows per scale factor (about 67 events per
user, as at sf0.1). The same seed and scale give the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
ORDER_STATUS = ("O", "F", "P")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENTS_FROM, EVENTS_TO = np.datetime64("2024-01-01", "us"), np.datetime64("2024-01-31", "us")
ORDERS_FROM, ORDERS_TO = np.datetime64("1995-01-01", "D"), np.datetime64("2001-08-01", "D")

TABLES = ("events", "orders", "supplier")


def sizes(scale: float) -> dict[str, int]:
    """Row counts at `scale`, the fixtures' scale factor (sf0.1 has 100,000
    events, 150,000 orders and 1,000 suppliers)."""
    return {
        "events": int(1_000_000 * scale),
        "users": max(1, int(15_000 * scale)),
        "orders": int(1_500_000 * scale),
        "customers": max(1, int(150_000 * scale)),
        "suppliers": max(1, int(10_000 * scale)),
    }


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n), type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(scale)

    span_us = int((EVENTS_TO - EVENTS_FROM) / np.timedelta64(1, "us"))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n["events"], dtype=np.int64)),
            "ts": pa.array(np.sort(EVENTS_FROM + rng.integers(0, span_us, n["events"]).astype("timedelta64[us]"))),
            "user_id": pa.array(rng.integers(0, n["users"], n["events"], dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n["events"]),
            "value": pa.array(np.round(rng.exponential(50.0, n["events"]), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
        }
    )

    days = int((ORDERS_TO - ORDERS_FROM) / np.timedelta64(1, "D"))

    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customers"], n["orders"], dtype=np.int64)),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n["orders"]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n["orders"]), 2)),
            "o_orderdate": pa.array(
                (ORDERS_FROM + rng.integers(0, days + 1, n["orders"]).astype("timedelta64[D]")).astype("datetime64[us]")
            ),
            "o_orderpriority": _pick(rng, ORDER_PRIORITY, n["orders"]),
        }
    )

    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["suppliers"], dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n["suppliers"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["suppliers"]).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n["suppliers"]), 2)),
        }
    )
    return {"events": events, "orders": orders, "supplier": supplier}


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
