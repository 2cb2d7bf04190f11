"""Property tests for incremental-MV maintenance and the weighted median.

The oracle gate proves each operator equals ONE reference query; these
tests pin the deeper algebraic properties: the MV fold must be invariant
to where the base/delta split falls (the definition of a correct
incremental refresh), and the weighted median must equal the plain lower
median of the weight-expanded multiset (the definition of a weighted
quantile).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
    analytics,
    incremental,
)

SF = "/root/testdata/sf0.001"


def test_mv_refresh_invariant_to_cutoff(spark):
    # all-delta (empty MV), the registry default split, and all-base
    # (empty delta) must produce byte-identical answers
    results = [
        sorted(
            incremental.mv_incremental_refresh(spark, SF, cutoff).collect()
        )
        for cutoff in ("1900-01-01", incremental.MV_CUTOFF, "2100-01-01")
    ]
    assert results[0] == results[1] == results[2]
    assert len(results[0]) > 0


def test_weighted_median_matches_expanded_median(spark):
    got = {
        r["year"]: (r["total_weight"], r["weighted_median"])
        for r in analytics.agg_weighted_percentile(spark, SF).collect()
    }
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    orders["year"] = orders["o_orderdate"].dt.year
    orders["wgt"] = 1 + orders["o_orderkey"] % 5
    for year, g in orders.groupby("year"):
        expanded = np.sort(
            np.repeat(g["o_totalprice"].to_numpy(), g["wgt"].to_numpy())
        )
        n = len(expanded)
        expected = round(float(expanded[math.ceil(n / 2) - 1]), 4)
        tw, wm = got[int(year)]
        assert tw == int(g["wgt"].sum())
        assert wm == expected, (year, wm, expected)


def test_mv_refresh_after_upsert_matches_full_recompute(spark, tmp_path):
    """The stored MV state must follow a rewrite of ``orders``: refresh,
    upsert rows that change totals on both sides of the cutoff, refresh
    again — the second answer must equal the full recompute on the NEW
    table, not fold the delta into pre-write partials."""
    from scripts.check_parity import canon_frame
    from tests.conftest import duck_over, upsert_orders, writable_orders_copy

    d = str(tmp_path)
    writable_orders_copy(d)
    before = sorted(incremental.mv_incremental_refresh(spark, d).collect())

    upsert_orders(spark, d)

    after = incremental.mv_incremental_refresh(spark, d)
    assert sorted(after.collect()) != before
    con = duck_over(d)
    want = con.execute(incremental.ORACLE["mv_incremental_refresh"]).fetchdf()
    assert canon_frame(after.toPandas()) == canon_frame(want)
