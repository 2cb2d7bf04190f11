"""Scale-pattern tests: the shuffle-avoidance and skew-mitigation machinery
the 100 TB posture depends on, demonstrated and asserted on real plans.

- Bucketed tables: co-located sort-merge join with NO exchange on either
  side — the pre-partitioning strategy for repeated big-big joins.
- Salted join / salted aggregation: correctness equivalence with the
  unsalted forms (the skew story is a physical rewrite, never a semantic
  change).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.skew import (
    salted_count_by_key,
    salted_join,
)
from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
    exchange_count,
    formatted_plan,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """Write orders and customer bucketed by the join key."""
    d = tmp_path_factory.mktemp("wh")
    orders = read_table(spark, SF, "orders")
    customer = read_table(spark, SF, "customer")
    (
        orders.write.mode("overwrite")
        .option("path", f"{d}/orders_bucketed")
        .bucketBy(4, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("orders_bucketed")
    )
    (
        customer.write.mode("overwrite")
        .option("path", f"{d}/customer_bucketed")
        .bucketBy(4, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("customer_bucketed")
    )
    yield d
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    spark.sql("DROP TABLE IF EXISTS customer_bucketed")


def test_bucketed_join_has_no_shuffle(spark, warehouse):
    o = spark.table("orders_bucketed")
    c = spark.table("customer_bucketed")
    # disable broadcast so the join must pick a partitioned strategy
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name")
        plan = formatted_plan(j)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # bucket co-location: zero exchanges anywhere in the join plan
        assert exchange_count(j) == 0
        # and it actually runs
        assert j.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_salted_join_matches_plain_join(spark):
    orders = read_table(spark, SF, "orders").select("o_custkey", "o_orderkey")
    customer = read_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(customer, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, customer, ["o_custkey"], n_salts=4).select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_aggregation_matches_plain(spark):
    ev = read_table(spark, SF, "events")
    plain = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        r["user_id"]: r["n"]
        for r in salted_count_by_key(ev, "user_id", n_salts=4).collect()
    }
    assert plain == salted


def test_with_salt_skips_map_columns(spark):
    """with_salt on a frame containing a MapType column must not fail
    analysis (hash over maps is unsupported) — round-1 advice."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.skew import (
        with_salt,
    )

    df = spark.createDataFrame(
        [(1, {"a": 1}), (2, {"b": 2})], "k long, m map<string,int>"
    )
    out = with_salt(df, 4).collect()
    assert all(0 <= r["__salt"] < 4 for r in out)


def test_with_salt_all_map_columns_falls_back(spark):
    """A frame with no hashable column still salts (monotonic-id basis)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.skew import (
        with_salt,
    )

    df = spark.createDataFrame([({"a": 1},), ({"b": 2},)], "m map<string,int>")
    out = with_salt(df, 4).collect()
    assert all(0 <= r["__salt"] < 4 for r in out)


def test_zorder_clustering_skips_files_on_2d_predicate(spark, tmp_path):
    """Z-order clustering must deliver MEASURED multi-dimensional data
    skipping: write the same orders rows (a) range-partitioned + sorted
    by the Morton key and (b) in natural o_orderkey order, then evaluate
    a 2-D box predicate (customer range x date range) against the actual
    parquet footer min/max stats of both layouts. The z-ordered layout
    must let the box skip a strict majority of files that the natural
    layout has to read — file-level stats pruning is exactly what Spark's
    parquet reader does at scan time, so footer overlap IS the skip
    rate."""
    import pyarrow.parquet as pq

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.layout import (
        zorder_keyed_orders,
    )

    n_files = 16
    keyed = zorder_keyed_orders(spark, SF)
    zdir, ndir = str(tmp_path / "z"), str(tmp_path / "n")
    (
        keyed.repartitionByRange(n_files, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(zdir)
    )
    (
        keyed.repartitionByRange(n_files, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(ndir)
    )

    # the 2-D box: one sixteenth of each dimension's domain
    stats = keyed.agg(
        F.max("o_custkey").alias("ck"), F.max("day_num").alias("dn")
    ).collect()[0]
    ck_lo, ck_hi = 0, max(1, stats.ck // 16)
    dn_lo, dn_hi = 0, max(1, stats.dn // 16)

    def overlapping_files(d: str) -> tuple[int, int]:
        total, overlap = 0, 0
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(d, f))
            cols = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            ck_min = min(
                md.row_group(g).column(cols["o_custkey"]).statistics.min
                for g in range(md.num_row_groups)
            )
            ck_max = max(
                md.row_group(g).column(cols["o_custkey"]).statistics.max
                for g in range(md.num_row_groups)
            )
            dn_min = min(
                md.row_group(g).column(cols["day_num"]).statistics.min
                for g in range(md.num_row_groups)
            )
            dn_max = max(
                md.row_group(g).column(cols["day_num"]).statistics.max
                for g in range(md.num_row_groups)
            )
            total += 1
            if ck_max >= ck_lo and ck_min <= ck_hi and dn_max >= dn_lo \
                    and dn_min <= dn_hi:
                overlap += 1
        return total, overlap

    z_total, z_overlap = overlapping_files(zdir)
    n_total, n_overlap = overlapping_files(ndir)
    assert z_total >= 8 and n_total >= 8  # the layouts actually split
    # natural order clusters on o_orderkey: custkey/date spread through
    # every file, so (almost) all files overlap the box
    assert n_overlap >= n_total - 2
    # z-order: the box touches only the files covering its Z-range
    assert z_overlap <= z_total // 2, (
        f"z-order skipped too little: {z_overlap}/{z_total} files overlap "
        f"vs natural {n_overlap}/{n_total}"
    )


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime bloom-filter injection (InjectRuntimeFilter): when a
    selective dim filter feeds a SHUFFLE join, Spark builds a bloom
    filter from the dim side and applies it to the fact scan — rows that
    can't join are dropped BEFORE the shuffle, the at-scale complement
    to broadcast joins (which sidestep the problem entirely and are the
    engine's first choice; broadcast is disabled here to exercise the
    shuffle path). Thresholds are lowered only to make the fixture-sized
    fact side qualify — the feature and its bloom parameters stay at
    engine defaults."""
    lowered = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in lowered}
    expected = None
    try:
        orders = read_table(spark, SF, "orders")
        cust = read_table(spark, SF, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        expected = (
            orders.join(
                F.broadcast(cust), orders.o_custkey == cust.c_custkey
            )
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        for k, v in lowered.items():
            spark.conf.set(k, v)
        j = (
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan[:1500]
        assert sorted(map(tuple, rows)) == sorted(map(tuple, expected))
    finally:
        # a key may have been UNSET before the test (conf.get -> None);
        # restoring must unset it again, not set(None)
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_compaction_collapses_file_count(spark):
    """layout_compact_small_files: the fragmented copy (64 files) must
    compact to ceil(bytes / COMPACT_TARGET_BYTES) files with identical
    rows — compaction is a physical rewrite only."""
    import os

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import layout

    layout.layout_compact_small_files(spark, SF).collect()  # build layouts
    frag = layout._fragmented_orders(spark, SF)
    comp = layout._compacted_orders(spark, SF)

    def parts(d):
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    n_frag, n_comp = len(parts(frag)), len(parts(comp))
    assert n_frag == layout._FRAGMENT_FILES
    total = sum(
        os.path.getsize(os.path.join(frag, f)) for f in parts(frag)
    )
    expected = max(1, -(-total // layout.COMPACT_TARGET_BYTES))
    assert n_comp == expected, (n_comp, expected)
    assert n_comp < n_frag
    assert (
        spark.read.parquet(comp).count()
        == spark.read.parquet(frag).count()
    )
