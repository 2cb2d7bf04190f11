"""Physical-plan regression tests: the scale properties SURVEY §4.2 claims
must stay true — pushdown, pruning, broadcast, top-k without global sort."""

from __future__ import annotations

from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
    aggregates,
    joins,
    olap,
)
from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
    exchange_count,
    has_take_ordered,
    join_kinds,
    pushed_filters,
    read_schemas,
)

SF = "/root/testdata/sf0.001"


def test_shipdate_filter_pushed_to_scan(spark):
    df = aggregates.join_agg_pricing(spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "LessThanOrEqual(l_shipdate" in pushed


def test_time_slice_range_predicate_pushed(spark):
    # the sargable companion range of the year()/month() predicates (P3)
    df = olap.filter_in_and_between(spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(o_orderdate" in pushed
    assert "LessThan(o_orderdate" in pushed


def test_column_pruning_reaches_scan(spark):
    df = olap.project_rename(spark, SF)
    schemas = read_schemas(df)
    # only the 3 projected columns are decoded, not all 6
    assert all("o_orderstatus" not in s for s in schemas)
    assert any("o_orderkey" in s for s in schemas)


def test_dim_join_broadcasts(spark):
    df = joins.join_broadcast_dim(spark, SF)
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds
    assert "SortMergeJoin" not in kinds


def test_top1_avoids_global_sort(spark):
    assert has_take_ordered(olap.top1_by_metric(spark, SF))


def test_asof_join_single_shuffle_per_side(spark):
    # union-timeline as-of: one exchange for the window partitioning
    # (+ at most one per input side), never a quadratic join
    df = joins.join_range_asof(spark, SF)
    assert "CartesianProduct" not in join_kinds(df)
    assert exchange_count(df) <= 3


def test_tpch_q3_pushdown_broadcast_topk(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_analytics,
    )

    df = tpch_analytics.tpch_q3_shipping_priority(spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "LessThan(o_orderdate" in pushed
    assert "GreaterThan(l_shipdate" in pushed
    assert "EqualTo(c_mktsegment,BUILDING)" in pushed
    assert "BroadcastHashJoin" in join_kinds(df)
    assert has_take_ordered(df)  # top-10 without a global sort


def test_tpch_q5_six_table_join_no_cartesian(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_analytics,
    )

    df = tpch_analytics.tpch_q5_local_supplier_volume(spark, SF)
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    assert "BroadcastHashJoin" in kinds  # dims broadcast


def test_tpch_q14_part_broadcast_and_range_pushdown(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_analytics,
    )

    df = tpch_analytics.tpch_q14_promo_revenue_share(spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_shipdate" in pushed
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds
    assert "SortMergeJoin" not in kinds


def test_partitioned_layout_prunes(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import layout
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = layout.scan_partition_pruned(spark, SF)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "o_year" in plan


def test_dpp_dim_filter_injects_dynamic_pruning(spark):
    """The dim-filtered star join must prune fact partitions at RUNTIME:
    the fact scan's PartitionFilters carries a dynamicpruningexpression
    fed by the dim side's broadcast result (the years never appear as
    literals in the query)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import layout
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = layout.scan_dpp_dim_filter(spark, SF)
    plan = formatted_plan(df)
    assert "dynamicpruningexpression" in plan, plan[:1500]
    # and the pruned query still computes the right thing
    years = [r["year"] for r in df.collect()]
    assert years == sorted(years)
    assert all(y % 4 == 0 for y in years)


def test_bucketed_registry_join_zero_exchange(spark):
    """join_bucketed_zero_shuffle's join + per-key aggregate must contain
    ZERO Exchange nodes: both sides are bucketed by the key at rest, and
    the aggregate reuses the join's clustering."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import layout

    core = layout._bucketed_join_frame(spark, SF)
    assert "SortMergeJoin" in join_kinds(core)
    assert exchange_count(core) == 0
    assert core.count() > 0


def test_cbo_stats_flip_join_to_broadcast(spark):
    """ANALYZE-fed CBO: the IDENTICAL query at the IDENTICAL broadcast
    threshold picks SortMergeJoin without CBO and BroadcastHashJoin with
    spark.sql.cbo.enabled + column stats (the filter-cardinality estimate
    shrinks the dim below the threshold) — the real mechanism behind the
    q8 file-stat gate's poor-man's CBO. Stats exist in both runs (the
    tables are ANALYZE'd at build), so the flip isolates the CBO conf."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import layout

    _, c_name = layout._cbo_tables(spark, SF)  # build + ANALYZE once
    # the stats-driven difference itself: CBO's filter-cardinality
    # estimate must undercut the size-only estimate of the SAME subtree
    est_cbo = layout._filtered_dim_estimate(spark, c_name, cbo=True)
    est_off = layout._filtered_dim_estimate(spark, c_name, cbo=False)
    assert est_cbo < est_off, (est_cbo, est_off)
    prev_cbo = spark.conf.get("spark.sql.cbo.enabled")
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    thr = layout.cbo_broadcast_threshold(spark, SF)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(thr))
        spark.conf.set("spark.sql.cbo.enabled", "false")
        no_cbo = join_kinds(layout._cbo_join_frame(spark, SF))
        spark.conf.set("spark.sql.cbo.enabled", "true")
        with_cbo = join_kinds(layout._cbo_join_frame(spark, SF))
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
    assert "SortMergeJoin" in no_cbo and "BroadcastHashJoin" not in no_cbo, (
        no_cbo
    )
    assert "BroadcastHashJoin" in with_cbo, with_cbo
    # the registry operator runs the stats-driven plan end to end
    df = layout.join_cbo_stats_broadcast(spark, SF)
    assert "BroadcastHashJoin" in join_kinds(df)
    assert df.count() == 1


def test_tpch_q8_bucketed_zero_fact_fact_exchange(spark):
    """tpch_q8_bucketed: the orders⋈lineitem join must run on the at-rest
    bucket layout — co-located SortMergeJoin, ZERO Exchange on the order
    key; the only shuffles left feed the 7-row year aggregate + sort."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import layout

    df = layout.tpch_q8_bucketed(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan  # both fact scans
    assert "hashpartitioning(l_orderkey" not in plan, plan
    assert "hashpartitioning(o_orderkey" not in plan, plan
    # year aggregate + output sort are the only shuffle boundaries
    assert exchange_count(df) == 2, plan
    assert df.count() > 0


def test_bitmap_prefilter_broadcasts_and_never_shuffle_joins(spark):
    """join_bitmap_prefiltered: the fact side must meet the dim-key
    bitmap via a broadcast join only — any SortMergeJoin/ShuffledHashJoin
    would mean the fact shuffled for the semi-filter, defeating it."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import joins

    df = joins.join_bitmap_prefiltered(spark, SF)
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds, kinds
    assert "SortMergeJoin" not in kinds and "ShuffledHashJoin" not in kinds
    assert df.count() > 0


def test_sql_exists_decorrelates_to_semi_join(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import sql_api

    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = sql_api.QUERIES["sql_exists_big_order"](spark, SF)
    assert "LeftSemi" in formatted_plan(df)  # not a per-row subquery


def test_sql_scalar_subquery_decorrelates_to_aggregate_join(spark):
    # The truly-correlated per-nation average (c2.c_nationkey =
    # c.c_nationkey) must compile to one aggregate over customer joined
    # back on the correlation key — not a per-row subquery re-execution.
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import sql_api
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = sql_api.QUERIES["sql_scalar_above_nation_avg"](spark, SF)
    plan = formatted_plan(df)
    assert "Subquery" not in plan  # decorrelated, not a scalar subquery
    assert "avg(" in plan  # the per-nation aggregate materialized once
    # and it actually correlates: the decorrelated JOIN itself must be
    # keyed on the correlation column (the scan's ReadSchema containing
    # c_nationkey would not prove that)
    import re

    assert re.search(r"Left keys \[\d+\]: \[c_nationkey#\d+", plan), plan


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's OptimizeSkewedJoin must split the hot event_type partitions
    of join_skew_aqe at runtime: the executed plan carries
    SortMergeJoin(skew=true) with an 'AQEShuffleRead skewed' child.

    The skew-size thresholds are lowered for the test ONLY to emulate
    at-scale partition bytes on fixture-sized data (the 256 MB default is
    correct in production and would classify nothing at sf0.001); the
    feature itself and its factor stay at engine defaults.
    """
    lowered = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # the engine default (32); the test session runs 4, where 5 hot
        # keys land one per partition and no partition exceeds the median
        "spark.sql.shuffle.partitions": "32",
    }
    saved = {k: spark.conf.get(k) for k in lowered}
    try:
        for k, v in lowered.items():
            spark.conf.set(k, v)
        df = joins.join_skew_aqe(spark, SF)
        rows = df.collect()
        assert len(rows) == 1000  # one enriched row per event
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_tpch_q18_having_filters_before_join(spark):
    # the HAVING aggregate runs once over lineitem; qualifying keys join
    # orders/customer afterwards — no second lineitem pass, no cartesian
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_analytics,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = tpch_analytics.tpch_q18_large_volume(spark, SF)
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    plan = formatted_plan(df)
    assert plan.count("lineitem.parquet") <= 1  # one fact scan only
    assert has_take_ordered(df)  # top-20 without a global sort


def test_tpch_q21_decorrelates_to_aggregates(spark):
    # round-14 shape: the correlated EXISTS / NOT EXISTS pair is an
    # AGGREGATE decorrelation — sole-late-supplier and min!=max
    # multi-supplier rollups joined on l_orderkey. No self-join of the
    # fact table survives (the prior semi+anti pair exchanged lineitem
    # three times), no per-row subqueries, no nested-loop stage
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_analytics,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = tpch_analytics.tpch_q21_suppliers_kept_waiting(spark, SF)
    plan = formatted_plan(df)
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    # lineitem scans feed aggregates, and the order-grain join is keyed
    assert plan.count("HashAggregate") >= 2 or "ObjectHashAggregate" in plan


def test_tpch_q4_semi_join_after_order_filter(spark):
    # the EXISTS decorrelates to a LeftSemi probe of the ALREADY date-
    # filtered orders; the quarter predicate reaches the orders scan
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_analytics,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = tpch_analytics.tpch_q4_order_priority(spark, SF)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(o_orderdate" in pushed
    assert "LessThan(o_orderdate" in pushed


def test_tpch_q19_single_join_no_plan_explosion(spark):
    # the OR-of-ANDs must stay a residual filter over ONE equi-join —
    # not a union of three joins, not a nested loop
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_analytics,
    )

    df = tpch_analytics.tpch_q19_disjunctive_pred(spark, SF)
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    assert sum(kinds.count(k) for k in ("BroadcastHashJoin", "SortMergeJoin",
                                        "ShuffledHashJoin")) == 1
    # the brand IN-set implied by every disjunct reaches the part scan
    assert any("In(p_brand" in p for p in pushed_filters(df))


def test_tpch_q22_anti_join_with_broadcast_scalar(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_analytics,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = tpch_analytics.tpch_q22_global_sales_opportunity(spark, SF)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    # the 1-row average broadcasts; no cartesian blowup beyond it
    assert "CartesianProduct" not in join_kinds(df)


def test_tpch_q8_six_table_chain_no_cartesian(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_analytics,
    )

    df = tpch_analytics.tpch_q8_market_share(spark, SF)
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    assert "BroadcastHashJoin" in kinds  # both nation chains broadcast
    pushed = " ".join(pushed_filters(df))
    assert "EqualTo(r_name,ASIA)" in pushed
    # size-gated fact-fact broadcast (round-8): under the gate the reduced
    # orders side broadcasts FROM THE START, so lineitem is never shuffled
    # — the only hash exchange left is the 7-group year aggregate. (AQE's
    # after-the-fact conversion still pays the probe-side shuffle WRITE;
    # the start-out hint is 2x wall time at 30x facts.)
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges <= 1, plan[:2000]


def test_tpch_q6_all_predicates_pushed(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_analytics,
    )

    df = tpch_analytics.tpch_q6_forecast_revenue(spark, SF)
    pushed = " ".join(pushed_filters(df))
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert frag in pushed, frag
    assert exchange_count(df) <= 1  # only the final single-row aggregate


def test_tpch_q2_decorrelates_to_aggregate_join(spark):
    """Q2's correlated min-cost subquery must run as one hash aggregate
    joined back on (partkey, cost) — never a per-row subplan — and the
    synthesized partsupp derivation must not introduce a real cartesian
    (the only nested-loop allowed is the 1-row supplier-count scalar)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_partsupp,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = tpch_partsupp.tpch_q2_min_cost_supplier(spark, SF)
    plan = formatted_plan(df)
    assert "HashAggregate" in plan  # the decorrelated per-part MIN
    assert "Subquery" not in plan  # no per-row subplan
    assert "CartesianProduct" not in join_kinds(df)
    assert "BroadcastHashJoin" in join_kinds(df)
    assert has_take_ordered(df)  # LIMIT 100 without a global sort


def test_tpch_q9_composite_key_join_pushdown(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_partsupp,
    )

    df = tpch_partsupp.tpch_q9_product_profit(spark, SF)
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastHashJoin" in kinds  # part filter + dims broadcast
    # the part-family LIKE filter reaches the part scan
    pushed = " ".join(pushed_filters(df))
    assert "p_name" in pushed


def test_tpch_q20_semi_join_chain(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        tpch_partsupp,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = tpch_partsupp.tpch_q20_excess_inventory(spark, SF)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan  # supplier filter is a semi join, not IN-subplan
    assert "CartesianProduct" not in join_kinds(df)
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_shipdate" in pushed


def test_decontam_broadcasts_benchmark_side(spark):
    """decontam_overlap: the held-out benchmark shingles must BROADCAST —
    the training corpus side joins without shuffling (the full-corpus
    shuffle is exactly what the operator exists to avoid)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import llm_prep

    df = llm_prep.decontam_overlap(spark, SF)
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds
    assert "CartesianProduct" not in kinds


def test_chunk_documents_no_shuffle(spark):
    """chunk_documents is a pure 1-to-N explode: scan partitions carry
    through with ZERO exchanges — any shuffle here would be plan
    regression (the operator has no keyed operation at all)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import llm_prep

    df = llm_prep.chunk_documents(spark, SF)
    assert exchange_count(df) == 0


def test_vocab_coverage_broadcasts_vocab(spark):
    """vocab_coverage: the derived top-K vocabulary broadcasts back; the
    token stream shuffles only for its aggregates, never pairwise."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import llm_prep

    df = llm_prep.vocab_coverage(spark, SF)
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds
    assert "SortMergeJoin" not in kinds


def test_size_gated_broadcasts_degrade_past_the_gate(spark, monkeypatch):
    """The q8 / decontam broadcast hints are SIZE-GATED (io.broadcastable):
    past the gate the hint must vanish and the plan degrade to a shuffle
    join — an unconditional broadcast of a fact-derived relation would
    OOM at 100 TB. Pin the degrade path by faking a huge base table."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark import io
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        llm_prep,
        tpch_analytics,
    )

    monkeypatch.setattr(io, "table_bytes", lambda sf_dir, name: 1 << 40)

    q8 = tpch_analytics.tpch_q8_market_share(spark, SF)
    # the fact-fact join must NOT be hint-broadcast: a shuffle-side join
    # appears (SMJ or shuffled-hash; the tiny dims still broadcast)
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    plan = formatted_plan(q8)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan[:1500]

    # decontam: at fixture scale Catalyst's OWN size estimate still
    # chooses broadcast (correctly — the bench subtree is tiny); to prove
    # the HINT is gone, disable the planner's threshold and check the
    # join falls back to a shuffle strategy. With the hint present this
    # would stay BroadcastHashJoin regardless of the threshold.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        dc = llm_prep.decontam_overlap(spark, SF)
        plan2 = formatted_plan(dc)
        assert ("SortMergeJoin" in plan2) or ("ShuffledHashJoin" in plan2), (
            plan2[:1500]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_mv_refresh_scans_delta_only(spark):
    # incremental MV maintenance: the only predicate-bearing scan of the
    # base table is the DELTA slice — the cutoff range predicate must
    # reach the parquet scan so at scale only new partitions are read
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        incremental,
    )

    df = incremental.mv_incremental_refresh(spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(o_orderdate" in pushed


def test_asof_nearest_is_join_free(spark):
    # direction=nearest as-of: the union-timeline formulation must plan
    # as windows over ONE user shuffle (plus the output sort's range
    # exchange) with NO join operator at all — the naive within-tolerance
    # candidate join the oracle runs would show a join node and a
    # per-user quadratic intermediate
    df = joins.join_asof_nearest(spark, SF)
    assert join_kinds(df) == []
    assert exchange_count(df) <= 2


def test_lateral_topk_decorrelates_to_rank_filter(spark):
    # LATERAL (ORDER BY ... LIMIT 3) must decorrelate into a row_number
    # window + rank filter + broadcast join — never a nested-loop
    # re-execution of the subquery per outer row
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import sql_api
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = sql_api.QUERIES["sql_lateral_topk_per_group"](spark, SF)
    plan = formatted_plan(df)
    assert "row_number" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_corpus_shuffle_single_exchange(spark):
    # the seeded shuffle is repartition-by-shard + in-partition rank:
    # exactly ONE hash exchange, no global sort of the corpus
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import llm_prep

    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = llm_prep.corpus_shuffle_shards(spark, SF)
    assert exchange_count(df) == 1
    assert "rangepartitioning" not in formatted_plan(df)


def test_sessionize_batch_single_exchange(spark):
    # the round-10 headline events query, round-14 boundary-row form:
    # everything must ride ONE hash exchange by user (the boundary-row
    # lead() window reuses the full-row window's partitioning AND sort,
    # so no re-exchange and no re-sort), with no global sort of the
    # events table and — since the cumsum+groupBy form was replaced by
    # boundary algebra — NO aggregate operator anywhere in the plan
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        custom_udf,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = custom_udf.sessionize_batch(spark, SF)
    plan = formatted_plan(df)
    assert exchange_count(df) == 1, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "hashaggregate" not in plan.lower(), plan
    # one data sort feeding both stacked Window operators
    assert plan.lower().count("+- sort") <= 1, plan


def test_arrow_map_stays_narrow_and_prunes(spark):
    """mapInArrow is a per-partition map: its plan must contain no
    Exchange at all, and column pruning must reach the scan (only
    doc_id/text read, not the full documents schema)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import custom_udf

    df = custom_udf.arrow_map_doc_stats(spark, SF)
    assert exchange_count(df) == 0
    schemas = " ".join(read_schemas(df))
    assert "text" in schemas and "lang" not in schemas and "source" not in schemas


def test_semdedup_joins_only_on_cluster_key(spark):
    """SemDeDup's pair stage must be an equi-join on list_id (the
    co-located within-cluster join the n^2/k bound rests on), never a
    cartesian/theta join over the corpus."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import dedup

    df = dedup.dedup_semantic_kmeans(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_winnow_single_window_exchange(spark):
    """Winnowing = one explode + one trailing window: exactly ONE
    exchange (the doc_id hash for the window frame), no range
    partitioning (no global sort), scan pruned to doc_id/text."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import text
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = text.text_winnow_fingerprint(spark, SF)
    plan = formatted_plan(df)
    assert exchange_count(df) == 1, plan
    assert "rangepartitioning" not in plan.lower(), plan
    schemas = " ".join(read_schemas(df))
    assert "lang" not in schemas and "source" not in schemas


def test_bpe_vocab_joins_broadcast(spark):
    """The merge chain runs on the distinct-word vocabulary and must come
    back onto the corpus as a BROADCAST hash join — the corpus never
    shuffles on word."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import text

    df = text.text_bpe_encode_count(spark, SF)
    kinds = " ".join(join_kinds(df))
    assert "BroadcastHashJoin" in kinds, kinds
    assert "SortMergeJoin" not in kinds, kinds


def test_allpairs_prefix_no_cartesian(spark):
    """Prefix-filtered ssjoin: every join is an equi-join (prefix-shingle
    candidates, doc_id verify joins) — no cartesian/theta join anywhere,
    the property the prefix filter exists to guarantee at scale."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import dedup

    df = dedup.dedup_allpairs_prefix(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_reservoir_takeordered_no_global_sort(spark):
    """A-Res sampling is a scan projection + TakeOrdered top-k: no
    exchange-backed global sort of the corpus."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        sampling,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = sampling.sample_weighted_reservoir(spark, SF)
    assert has_take_ordered(df), formatted_plan(df)
    assert "rangepartitioning" not in formatted_plan(df).lower()


def test_sessionize_clustered_zero_exchange(spark):
    """The user-bucketed at-rest events layout must serve the session
    windows with ZERO exchanges (the whole point of the layout: the
    flat-scan twin pays one full shuffle of events per query), reading
    only (user_id, ts) off a bucketed scan with all buckets selected."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import layout

    df = layout.sessionize_batch_clustered(spark, SF)
    assert exchange_count(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan


def test_pattern_match_clustered_zero_exchange_zero_presort(spark):
    """The CEP stack off the user-bucketed layout: ZERO hash exchanges
    (the scan is bucketed by user_id) and ZERO sorts below the windows
    (the at-rest (user_id, ts, event_id) sort order is reported by the
    bucketed scan — one file per bucket — and both window frames order
    by exactly that key since the round-13 derived-seq fix). The only
    allowed exchange/sort pair is the final presentation ORDER BY on
    the ~0.05%-selectivity match output."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import layout

    df = layout.events_pattern_match_clustered(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("hashpartitioning") == 0, plan
    assert "Bucketed: true" in plan, plan
    assert plan.count("Exchange") <= 1, plan  # final rangepartitioning
    assert plan.count("Sort [") <= 1, plan  # final presentation sort


def test_pattern_match_single_user_exchange(spark):
    """Round 16 (VERDICT r15 item 1): the flat CEP stack must ride ONE
    RANGE exchange by user — range partitioning satisfies the window's
    clustering AND leaves the filtered matches already in the declared
    output order, so the final orderBy plans NO second exchange and NO
    extra sort (the range-sampling pass that re-executed the whole
    window stack is gone with it). One sort total, no joins."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = analytics.events_pattern_match(spark, SF)
    plan = formatted_plan(df)
    assert plan.lower().count("hashpartitioning") == 0, plan
    assert plan.lower().count("rangepartitioning") == 1, plan
    assert exchange_count(df) == 1, plan  # the user-range window exchange
    assert plan.count("Sort [") <= 1, plan  # window sort only; orderBy elided
    assert "Join" not in join_kinds(df)


def test_kneser_ney_model_tables_broadcast(spark):
    """All five KN model-table joins onto the corpus bigram stream must
    be broadcasts — the corpus never shuffles for the model lookup; the
    only hash exchange is the per-doc aggregate."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        llm_prep,
    )

    df = llm_prep.quality_kneser_ney_logprob(spark, SF)
    kinds = join_kinds(df)
    assert "SortMergeJoin" not in kinds, kinds
    assert "ShuffledHashJoin" not in kinds, kinds
    assert "BroadcastHashJoin" in kinds or "BroadcastNestedLoopJoin" in kinds


def test_cascade_rerank_all_broadcast_no_smj(spark):
    # round-13 wave 5: both cascade stages must stay broadcast-driven —
    # the survivor set (queries x L1) and the query codes are tiny by
    # construction; a SortMergeJoin here means the broadcast hints broke
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        similarity,
    )

    df = similarity.sim_search_cascade_rerank(spark, SF)
    kinds = join_kinds(df)
    assert "SortMergeJoin" not in kinds
    assert "CartesianProduct" not in kinds
    # only the two rank windows shuffle
    assert exchange_count(df) <= 2


def test_key_uniqueness_single_scan_grouping_sets(spark):
    # both candidate keys count in ONE expanded pass — a second orders
    # scan would mean the GROUPING SETS collapsed into per-key groupbys
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    import re

    df = analytics.dq_key_uniqueness(spark, SF)
    plan = formatted_plan(df)
    # detail-section headers "(N) Scan parquet" — one per physical scan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan


def test_mutual_information_single_scan(spark):
    # joint + both marginal entropies derive from ONE windowed cell
    # frame — rule-5 regression guard against re-executed subtrees
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    import re

    df = analytics.agg_mutual_information(spark, SF)
    assert len(
        re.findall(r"\(\d+\) Scan parquet", formatted_plan(df))
    ) == 1


def test_levenshtein_kernel_is_banded(spark):
    # the 3-arg threshold kernel + length-gap prefilter (round-13 bench
    # fix, SCALE.md) — a plain 2-arg levenshtein would silently revert
    # to the full O(n*m) matrix
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        dedup,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = dedup.dedup_levenshtein_blocked(spark, SF)
    plan = formatted_plan(df)
    # the threshold renders as the third operand: levenshtein(a, b, Some(..))
    assert "levenshtein" in plan
    lev_lines = [l for l in plan.splitlines() if "levenshtein" in l]
    assert lev_lines and all("Some(" in l for l in lev_lines)


def test_ytd_prior_year_single_scan(spark):
    # round-13 wave 12: the prior-year comparison is a month-of-year LAG
    # window, not a self-join of two copies of the corpus rollup — the
    # join form re-executes the orders scan per side (rule 5)
    import re

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    df = analytics.window_ytd_vs_prior_year(spark, SF)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_delta_method_prunes_lineitem_scan(spark):
    # the ratio-metric moments need exactly two lineitem columns; a scan
    # decoding more means pruning broke through the per-order aggregate
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )

    df = analytics.agg_delta_method_ratio_ci(spark, SF)
    li_schemas = [s for s in read_schemas(df) if "l_orderkey" in s]
    assert li_schemas
    assert all("l_quantity" not in s for s in li_schemas)
    assert all("l_shipdate" not in s for s in li_schemas)
    assert "CartesianProduct" not in join_kinds(df)


def test_brown_forsythe_median_broadcasts(spark):
    # the 5-row per-group median table must come back as a broadcast,
    # never a shuffle of the orders side
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )

    df = analytics.agg_levene_brown_forsythe(spark, SF)
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds
    assert "SortMergeJoin" not in kinds


def test_mood_median_scalar_broadcast_only(spark):
    # the grand median rides a 1-row broadcast cross join (the scalar
    # pattern); any other join kind means the orders side shuffled
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )

    df = analytics.agg_mood_median_test(spark, SF)
    kinds = join_kinds(df)
    assert "SortMergeJoin" not in kinds
    assert "ShuffledHashJoin" not in kinds
    assert "CartesianProduct" not in kinds


def test_average_precision_broadcast_scored(spark):
    # the 10-query side broadcasts onto the candidate scan; the running
    # precision rides the SAME window sort as the rank
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        similarity,
    )

    df = similarity.sim_eval_average_precision(spark, SF)
    kinds = join_kinds(df)
    assert "SortMergeJoin" not in kinds
    assert "CartesianProduct" not in kinds
    assert exchange_count(df) <= 3


def test_bounce_rate_one_user_exchange(spark):
    # sessionize shape: one exchange by user for both windows, one for
    # the day rollup, one range exchange for the output order — no more
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )

    df = analytics.events_bounce_rate_daily(spark, SF)
    assert exchange_count(df) <= 3
    assert "Join" not in formatted_plan_for(df)


def formatted_plan_for(df):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )

    return formatted_plan(df)


def test_gumbel_single_scan_no_join(spark):
    # daily rollup -> monthly max -> 1-row moments: a straight-line
    # aggregate chain; any join means the scalar stats were rejoined
    import re

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )

    df = analytics.agg_extreme_value_gumbel(spark, SF)
    plan = formatted_plan_for(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_laspeyres_single_scan_window_base(spark):
    # round-13 wave 17: the base-period lookup is a per-part window over
    # ONE (part, year) aggregate — a base-subset self-join would scan
    # lineitem twice (rule 5)
    import re

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )

    df = analytics.agg_price_index_laspeyres(spark, SF)
    plan = formatted_plan_for(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_hhi_broadcasts_part_dim(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )

    df = analytics.agg_herfindahl_brand_hhi(spark, SF)
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds
    assert "SortMergeJoin" not in kinds


def test_mattr_prunes_to_two_columns(spark):
    # the windowed-TTR transform is pure per-row array work off a
    # 2-column scan — no shuffle before the output sort
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        text,
    )

    df = text.text_mattr_diversity(spark, SF)
    schemas = read_schemas(df)
    assert schemas and all("source" not in s for s in schemas)
    assert exchange_count(df) <= 1  # only the output range exchange


def test_wilson_single_scan_no_join(spark):
    import re

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )

    df = analytics.agg_wilson_score_ci(spark, SF)
    plan = formatted_plan_for(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_ipw_single_scan(spark):
    # assignment, cells and both Hajek ratios come from ONE orders scan
    import re

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        analytics,
    )

    df = analytics.agg_ipw_treatment_effect(spark, SF)
    plan = formatted_plan_for(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
