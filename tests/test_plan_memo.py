"""The plan-memo rule and its invalidation (functions/plan_cache.py).

Every ``bench.py`` HEADLINE key and every reference-dashboard panel is
served from the plan memo: a second call in one session hands back the
SAME analyzed DataFrame. The memo must never outlive a write: after an
upsert + ``io.clear_table_cache()`` every memoized panel must answer from
the new table, checked against its DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pandas as pd
import pytest

import bench
from scripts.check_parity import canon_frame
from tests.conftest import SF_SMOKE as SF
from u_s__non_farm_payrolls_an_olap_analysis_spark import io, registry
from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.plan_cache import (
    plan_memo,
)
from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
    custom_udf,
    olap,
)

# the reference-dashboard questions that are not bench.py HEADLINE keys
DASHBOARD_PANELS = (
    "rollup_year_sum",
    "dice_q4_avg_by_month",
    "window_pct_change_global",
    "drill_sharpest_drop",
    "dice_recovery_asof",
)

_MEMO_CODE = plan_memo(lambda spark, sf_dir: None).__code__


def _memoized(fn) -> bool:
    return getattr(fn, "__code__", None) is _MEMO_CODE


MEMOIZED_PANELS = sorted(
    k
    for mod in (olap, custom_udf)
    for k, fn in mod.QUERIES.items()
    if _memoized(fn)
)


@pytest.mark.parametrize(
    "key", sorted({*bench.HEADLINE.values(), *DASHBOARD_PANELS})
)
def test_panel_served_from_memo(spark, key):
    fn = registry.queries()[key]
    assert fn(spark, SF) is fn(spark, SF)


def test_memo_invalidated_by_upsert(spark, tmp_path):
    """A write that changes totals, then clear_table_cache: no memoized
    olap/custom_udf panel may serve its pre-write plan."""
    assert {"rollup_year_sum", "sessionize_batch"} <= set(MEMOIZED_PANELS)
    d = str(tmp_path)
    target = os.path.join(d, "orders.parquet")
    os.makedirs(target)
    shutil.copy(f"{SF}/orders.parquet", os.path.join(target, "part-0.parquet"))
    os.symlink(f"{SF}/events.parquet", os.path.join(d, "events.parquet"))
    queries = registry.queries()
    before = {k: sorted(queries[k](spark, d).collect()) for k in MEMOIZED_PANELS}

    # reprice every 7th order (all years, all months) and add new orders
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    upd = orders.iloc[::7].copy()
    upd["o_totalprice"] = upd["o_totalprice"] * 3 + 1000.25
    new = orders.iloc[:40].copy()
    new["o_orderkey"] += int(orders["o_orderkey"].max()) + 1
    upd = pd.concat([upd, new], ignore_index=True)
    tgt = io.read_table(spark, d, "orders")
    merged = io.upsert_by_key(
        tgt, spark.createDataFrame(upd, schema=tgt.schema), ["o_orderkey"]
    )
    io.write_upsert_parquet(target, merged)
    io.clear_table_cache()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{target}/*.parquet')"
    )
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')"
    )
    oracles = registry.oracle_sql()
    stale = []
    for k in MEMOIZED_PANELS:
        got = canon_frame(queries[k](spark, d).toPandas())
        if got != canon_frame(con.execute(oracles[k]).fetchdf()):
            stale.append(k)
    assert not stale, stale
    # the write reaches the panels that aggregate orders
    after = sorted(queries["rollup_year_sum"](spark, d).collect())
    assert after != before["rollup_year_sum"]
