"""Seeded generator for the benchmark's input tables.

Writes the tables the benchmarked registry keys read (one single-row-group
parquet file per table, the shape of the repository's fixture data) from
nothing but a seed and a scale factor, so a run depends on no data outside
its own working directory. Value domains follow the fixture schema
(FIXTURES.md): uniform keys, categorical codes, 2-dp money, a 1995-2001
order calendar and a 30-day event stream.

Sizes per scale factor ``sf`` (sf0.1 = 150k orders, 600k lineitems).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = (np.datetime64("2001-08-01", "D") - ORDER_DAY0).astype(int) + 1
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = (np.datetime64("2001-11-04", "D") - SHIP_DAY0).astype(int) + 1
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000

ALL_TABLES = ("nation", "customer", "orders", "lineitem", "events")


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    codes = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(codes, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _days(day0: np.datetime64, idx: np.ndarray) -> pa.Array:
    return pa.array((day0 + idx).astype("datetime64[us]"), pa.timestamp("us"))


def order_payload(rng: np.random.Generator, n: int, n_customers: int) -> dict:
    """Non-key ``orders`` columns; the update batches reuse this draw."""
    return {
        "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": _pick(rng, STATUSES, n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": _days(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n)),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }


def _table(name: str, rng: np.random.Generator, sz: dict[str, int]) -> pa.Table:
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        n = sz["customer"]
        return pa.table({
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        })
    if name == "orders":
        n = sz["orders"]
        return pa.table({"o_orderkey": pa.array(np.arange(n), pa.int64()),
                         **order_payload(rng, n, sz["customer"])})
    if name == "lineitem":
        n = sz["lineitem"]
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, sz["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, sz["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, sz["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n)),
        })
    if name == "events":
        n = sz["events"]
        offs = np.sort(rng.integers(0, EVENT_SPAN_US, n))
        return pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(EVENT_T0 + offs.astype("timedelta64[us]"),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, sz["users"], n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
    raise ValueError(f"unknown table {name!r}")


def generate(out_dir: str, seed: int, sf: float, tables=ALL_TABLES) -> None:
    """Write ``tables`` under ``out_dir``. Each table draws from its own
    stream (seed, table index), so the same seed gives the same table
    whichever subset is generated."""
    os.makedirs(out_dir, exist_ok=True)
    sz = sizes(sf)
    for name in tables:
        rng = np.random.default_rng([seed, ALL_TABLES.index(name)])
        t = _table(name, rng, sz)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
