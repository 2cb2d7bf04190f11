from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from u_s__non_farm_payrolls_an_olap_analysis_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", master="local[4]", shuffle_partitions=4)
    yield s


def writable_orders_copy(d: str) -> str:
    """``d`` as an sf dir: a writable one-part copy of the smoke
    ``orders`` (the directory shape a keyed upsert rewrites in place) and
    every other smoke table symlinked read-only. Returns the orders dir."""
    import os
    import shutil

    target = os.path.join(d, "orders.parquet")
    os.makedirs(target)
    shutil.copy(f"{SF_SMOKE}/orders.parquet", os.path.join(target, "part-0.parquet"))
    for f in os.listdir(SF_SMOKE):
        if f.endswith(".parquet") and f != "orders.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), os.path.join(d, f))
    return target


def upsert_orders(spark, d: str) -> None:
    """The shared write for freshness tests, on a ``writable_orders_copy``:
    reprice every 7th order (all years, all months) and add 40 new orders
    through ``io.upsert_by_key`` + ``io.write_upsert_parquet``, then
    ``io.clear_table_cache()`` — the engine's keyed-upsert ETL step."""
    import os

    import pandas as pd

    from u_s__non_farm_payrolls_an_olap_analysis_spark import io

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    upd = orders.iloc[::7].copy()
    upd["o_totalprice"] = upd["o_totalprice"] * 3 + 1000.25
    new = orders.iloc[:40].copy()
    new["o_orderkey"] += int(orders["o_orderkey"].max()) + 1
    upd = pd.concat([upd, new], ignore_index=True)
    tgt = io.read_table(spark, d, "orders")
    merged = io.upsert_by_key(
        tgt, spark.createDataFrame(upd, schema=tgt.schema), ["o_orderkey"]
    )
    io.write_upsert_parquet(os.path.join(d, "orders.parquet"), merged)
    io.clear_table_cache()


def duck_over(d: str):
    """DuckDB connection with one view per table of sf dir ``d`` (single
    files and part-file directories alike) — the oracles' schema."""
    import os

    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            p = os.path.join(d, f)
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(
                f"CREATE VIEW {f[:-len('.parquet')]} AS "
                f"SELECT * FROM read_parquet('{src}')"
            )
    return con
