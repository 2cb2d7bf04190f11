"""The plan-memo rule and its invalidation (functions/plan_cache.py).

Every ``bench.py`` HEADLINE key and every reference-dashboard panel is
served from the plan memo: a second call in one session hands back the
SAME analyzed DataFrame. The memo must never outlive a write: after an
upsert + ``io.clear_table_cache()`` every memoized panel must answer from
the new table, checked against its DuckDB oracle.
"""

from __future__ import annotations

import pytest

import bench
from scripts.check_parity import canon_frame
from tests.conftest import SF_SMOKE as SF
from tests.conftest import duck_over, upsert_orders, writable_orders_copy
from u_s__non_farm_payrolls_an_olap_analysis_spark import registry
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
    writable_orders_copy(d)
    queries = registry.queries()
    before = {k: sorted(queries[k](spark, d).collect()) for k in MEMOIZED_PANELS}

    upsert_orders(spark, d)

    con = duck_over(d)
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
