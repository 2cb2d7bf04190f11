"""TPC-H-shaped multi-join analytics (SURVEY §2.10 extension surface).

The reference is single-table (`dashboard_nfp.py` never joins, SURVEY §2.3);
these queries extend the engine's join/aggregate surface to the canonical
decision-support shapes on the driver's star schema — the workload class a
user of an OLAP engine actually runs at 100 TB. Physical-strategy notes per
query; the shared posture:

- Dimensions (`region`, `nation`, `supplier`, filtered `customer`, `part`)
  are broadcast — the fact tables (`orders`, `lineitem`) never shuffle for
  a dim lookup.
- Fact-fact joins (`orders` ⋈ `lineitem`) shuffle once on the order key;
  at scale both sides would be bucketed on it (see
  `tests/test_scale_patterns.py` for the bucketed zero-exchange variant).
- Filters sit directly on scan columns (sargable; pushed to parquet), and
  every money aggregate uses the deterministic scaled-int sum
  (`functions/numerics.dsum`) so results hash-match at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numerics import (
    _nearest_long_away,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
)
from ..io import broadcastable, read_table

_REVENUE_SQL = "l_extendedprice * (1 - l_discount)"


def _revenue() -> F.Column:
    # built lazily — Column construction needs an active SparkSession
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _ts(lit: str) -> F.Column:
    return F.lit(lit).cast("timestamp_ntz")


def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape — unshipped-order revenue for one market segment, top 10.

    BUILDING customers are ~1/5 of a dim table → broadcast; orders⋈lineitem
    shuffles on the order key; the final top-10 is a TakeOrdered (no global
    sort materialization). Date predicates are sargable on the raw columns.
    """
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _ts("1999-03-15")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > _ts("1999-03-15")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(dsum(_revenue()), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape — revenue by nation where supplier and customer share the
    nation, one region, one year: the full 6-table star join.

    region/nation/supplier broadcast; customer joins orders on the shuffled
    custkey; lineitem⋈orders is the one big shuffle. The s_nationkey =
    c_nationkey equality is part of the supplier join condition, not a
    post-filter — it prunes before the aggregate.
    """
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(dsum(_revenue()), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape — top-20 customers by lost revenue on returned items in
    one quarter. customer⋈nation broadcast into the fact aggregate."""
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1998-10-01"))
        & (F.col("o_orderdate") < _ts("1999-01-01"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(dsum(_revenue()), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def tpch_q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape — promo revenue share for one month: conditional aggregate
    over lineitem⋈part (part broadcast). One output row; the division is a
    single post-aggregate projection (no second pass)."""
    part = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1998-09-01"))
        & (F.col("l_shipdate") < _ts("1998-10-01"))
    )
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = dsum(F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(F.lit(0.0)))
    total = dsum(_revenue())
    return joined.agg(
        F.round(promo * 100.0 / total, 6).alias("promo_revenue_pct"),
        F.round(total, 4).alias("total_revenue"),
    )


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape — supplier(s) achieving max quarterly revenue: aggregate,
    then a global-max window instead of a correlated MAX subquery. The
    window is over the 100-row supplier aggregate, not the fact table —
    negligible at any scale."""
    supp = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1998-01-01"))
        & (F.col("l_shipdate") < _ts("1998-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(F.round(dsum(_revenue()), 4).alias("total_rev"))
    w = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    top = rev.withColumn("max_rev", F.max("total_rev").over(w)).filter(
        F.col("total_rev") == F.col("max_rev")
    )
    return (
        top.join(F.broadcast(supp), top.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape — shipping volume between two nation pairs by year: the
    supplier nation and customer nation resolve through two independent
    broadcast dim chains, then the pair filter keeps both directions."""
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = read_table(spark, sf_dir, "supplier")
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1999-01-01"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(dsum(_revenue()), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape — the pure scan-filter-aggregate: one year of shipments,
    a discount band, a quantity cap, one global sum. Every predicate is
    sargable and reaches the parquet scan; zero joins, zero shuffles
    beyond the single-row final aggregate — the query that measures raw
    scan throughput."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1998-01-01"))
        & (F.col("l_shipdate") < _ts("1999-01-01"))
        & F.col("l_discount").between(0.02, 0.04)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            dsum(F.col("l_extendedprice") * F.col("l_discount")), 4
        ).alias("revenue_effect"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — the full pricing summary report: 8 measures per
    (returnflag, linestatus) over one scan-filter. The canonical
    whole-stage-codegen aggregate: map-side partials collapse 600k rows
    to 4 groups before the shuffle; all money sums are the deterministic
    scaled-int form. (``join_agg_pricing`` is the bench-tuned 6-measure
    variant; this is the spec-complete named shape with sum_charge and
    avg_disc, ordered.)"""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= _ts("2000-09-02")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(dsum("l_quantity"), 4).alias("sum_qty"),
            F.round(dsum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(dsum(disc_price), 4).alias("sum_disc_price"),
            F.round(dsum(charge), 4).alias("sum_charge"),
            F.round(davg("l_quantity"), 6).alias("avg_qty"),
            F.round(davg("l_extendedprice"), 6).alias("avg_price"),
            F.round(davg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape — large-volume customers: HAVING over a fact aggregate,
    then the qualifying ≤0.1% of orders re-join customer/orders.

    The per-order quantity aggregate is ONE map-side-combinable hash agg
    over lineitem (the big scan); the HAVING filter reduces it to a tiny
    keyset, so the subsequent joins are effectively broadcast-sized at any
    SF — never a second pass over lineitem. Top-20 via total order with
    o_orderkey tiebreak."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(dsum("l_quantity"), 4).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate"), "o_orderkey"
        )
        .limit(20)
    )


def tpch_q21_suppliers_kept_waiting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q21 shape — correlated EXISTS + NOT EXISTS at join scale: suppliers
    who were the SOLE late supplier on a finalized multi-supplier order.

    Adaptations to the fixture schema: "late" is ``l_shipdate >
    o_orderdate + 90 days`` (no l_receiptdate/l_commitdate columns), and
    the single-nation filter is dropped (fixture nations hold ~1 supplier
    each — it would degenerate the result).

    Physical shape (round 14 — the aggregate decorrelation; the prior
    LEFT SEMI + LEFT ANTI pair exchanged the full lineitem table three
    times, 5.9 s at 30x): a late line of supplier s in order k survives
    both quantifiers iff s is the ONLY supplier with a late line in k
    (NOT EXISTS) and k has ≥ 2 distinct suppliers overall (EXISTS). So:

    - ``lo`` = late lines rolled up per (order, supplier) — one
      fact-scale exchange of just the LATE lines;
    - orders with exactly one late supplier come from re-aggregating
      ``lo`` by order (tiny, already co-partitioned modulo one small
      exchange), keeping that sole supplier's line count;
    - "another supplier exists" is ``min(l_suppkey) ≠ max(l_suppkey)``
      per order — a map-combinable min/max aggregate instead of a
      count-distinct or a semi join with an inequality residual;
    - numwait then sums the surviving per-(order, supplier) line
      counts per supplier. No self-joins of the fact table remain.

    The status-F orders projection is roughly HALF of orders (a
    fact-derived relation, not a dim), so its broadcast is size-gated on
    ``io.broadcastable`` exactly like q8/scd2 — an unconditional hint would
    bypass AQE demotion and the broadcast size limit and OOM the driver
    at large SF. Past the gate it degrades to a plain equi-join and AQE
    picks the physical strategy."""
    li = read_table(spark, sf_dir, "lineitem")
    orders_f = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = read_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS"
    )
    of_keys = orders_f.select("o_orderkey", "o_orderdate")
    if broadcastable(sf_dir, "orders"):
        of_keys = F.broadcast(of_keys)
    lo = (
        li.join(
            of_keys,
            li.l_orderkey == F.col("o_orderkey"),
        )
        .filter(late)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_late_lines"))
    )
    sole = (
        lo.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_late_supp"),
            F.max("l_suppkey").alias("sole_supp"),
            F.max("n_late_lines").alias("c"),
        )
        .filter(F.col("n_late_supp") == 1)
        .select("l_orderkey", F.col("sole_supp").alias("l_suppkey"), "c")
    )
    multi_supp = (
        li.groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("mn"), F.max("l_suppkey").alias("mx")
        )
        .filter(F.col("mn") != F.col("mx"))
        .select("l_orderkey")
    )
    waited = sole.join(multi_supp, "l_orderkey")
    return (
        waited.join(F.broadcast(supp), waited.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("c").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape — order-priority checking: orders of one quarter that have
    at least one LATE line (fixture adaptation: ``l_shipdate >
    o_orderdate + 60 days`` — no commit/receipt dates), counted by
    priority. The EXISTS is a LEFT SEMI join of the quarter's orders
    against their late lines — the orders side is filtered BEFORE the
    join, so the semi probe touches ~1/28th of the fact table."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-07-01"))
        & (F.col("o_orderdate") < _ts("1997-10-01"))
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (
                li.l_shipdate
                > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape — customer order-count distribution: LEFT OUTER join
    customer→orders with the filter INSIDE the join condition (customers
    with zero qualifying orders must appear with c_count 0), then a
    second aggregate over the per-customer counts. Two shuffles total:
    the outer join on custkey and the tiny distribution aggregate."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape — small-quantity-order revenue: the correlated per-part
    average-quantity subquery decorrelated into ONE aggregate over
    lineitem joined back on partkey (never re-executed per row), for one
    brand / size band. Output is the canonical yearly-average revenue
    (sum/7).

    Scale note: the per-part average aggregates only lineitem rows of the
    SELECTED parts (broadcast semi-join before the groupBy) — aggregating
    ALL of lineitem by partkey and discarding ~96% of the groups at the
    join would be the 100 TB mistake; the correlation only ever references
    the filtered parts' keys, so semantics are unchanged."""
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 10)
    )
    li = read_table(spark, sf_dir, "lineitem")
    li_sel = li.join(
        F.broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    avg_qty = li_sel.groupBy(F.col("l_partkey").alias("ak")).agg(
        (davg("l_quantity") * 0.2).alias("qty_cap")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ak"))
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.round(dsum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def tpch_q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape — discounted revenue under a DISJUNCTION of
    (brand, size-band, quantity-band) triplets: the optimizer must keep
    the common join key while the OR-of-ANDs stays a residual filter —
    no plan explosion, one broadcast join, one aggregate. The brand set
    implied by every disjunct is stated EXPLICITLY on the part scan
    (sargable, pushed): at 100 TB the broadcast side must be the three
    brands' parts, not the whole part table — Catalyst does not reliably
    extract the common IN-set out of an OR-of-ANDs on its own."""
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
    )
    li = read_table(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    pred = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 50) & q.between(20, 30))
    )
    return j.filter(pred).agg(
        F.round(dsum(_revenue()), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def tpch_q22_global_sales_opportunity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q22 shape — wealthy inactive customers: acctbal above the average
    POSITIVE balance (scalar subquery → one global aggregate, broadcast
    as a 1-row cross join), restricted to a nation set (fixture
    adaptation of the phone-prefix filter), minus customers with any
    RECENT order — ``o_orderdate >= 2000-01-01`` (fixture adaptation:
    nearly every customer has SOME order, so the canonical
    no-order-ever anti join is degenerate here; the recency predicate
    keeps the LEFT ANTI shape non-trivial). Counts + balance sum per
    nation key."""
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 2, 3, 4, 5)
    )
    avg_pos = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal").alias("avg_bal"))
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("2000-01-01")
    ).select("o_custkey")
    rich = (
        cust.crossJoin(F.broadcast(avg_pos))  # 1-row scalar broadcast
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
    )
    inactive = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        inactive.groupBy(F.col("c_nationkey").cast("int").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(dsum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("cntry")
    )


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape — market share: of the revenue from ASIA-region customers,
    the share supplied by NATION_1 suppliers, per order year. One pass:
    the share is a conditional aggregate ratio (no second join of the
    filtered numerator).

    Scale design (round-8 tuning, each step measured at 30x facts):

    - **Reduce before the fact-fact join** (Catalyst keeps syntactic
      inner-join order without CBO): orders shrinks ~5x through the ASIA
      customer chain and projects to (o_orderkey, o_year); lineitem
      projects to (l_orderkey, scaled-rev, is-target).
    - **Dim chains collapse into single broadcast lookups**: supplier ⋈
      nation pre-joins into one (s_suppkey → is-target-nation) broadcast,
      so the 18M-row lineitem side pays ONE probe + a precomputed boolean
      instead of two probes + a string compare per row.
    - **Round once per row**: the scaled-int64 money value is computed
      once and the numerator is a conditional sum of it — identical
      arithmetic to ``dsum`` of the masked value (mask ∈ {0,1}, round(0)
      = 0), half the ties-away rounding work in the hot loop.
    - **Size-gated broadcast of the reduced orders side** (a poor-man's
      CBO via ``io.broadcastable`` file stats): the static planner can't
      see the 5x dim-chain reduction (join cardinality estimates without
      CBO stats explode, so no autoBroadcastJoinThreshold catches it),
      and AQE's runtime conversion only fires AFTER the probe side's
      shuffle WRITE is materialized — at 30x facts that's an 18M-row
      exchange written then read "locally", 2x the query's wall time
      (measured 1.9 s → 0.9 s with the start-out broadcast). Past the
      gate the hint vanishes and the plan degrades gracefully to the
      shuffle join with AQE — the correct 100 TB shape."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    li_flagged, asia_orders = _q8_sides(spark, sf_dir, li, orders)
    # size gate: the reduced (o_orderkey, o_year) relation is ≤ ~2/5 of
    # the base table's rows at ~12 bytes each, so a ≤256 MB compressed
    # orders file bounds the broadcast comfortably under executor memory.
    # Past the gate the degrade is an EXPLICIT shuffled-hash with the
    # reduced orders side as build (scripts/measure_q8_variants.py:
    # 1.53 s vs sort-merge 2.2 s at 30x, 3.6 s vs 5.1 s at 100x — SMJ
    # pays a 60M-row sort the hash build avoids; per-partition builds
    # stay bounded because the build side is the 5x-reduced relation and
    # AQE splits skewed partitions). Recurring q8 at rest skips all of
    # this via the bucketed layout (SCALE.md, measure_bucketed_q8.py).
    if broadcastable(sf_dir, "orders"):
        asia_orders = F.broadcast(asia_orders)
    else:
        asia_orders = asia_orders.hint("SHUFFLE_HASH")
    return _q8_aggregate(
        li_flagged.join(
            asia_orders, li_flagged.l_orderkey == asia_orders.o_orderkey
        )
    )


def _q8_sides(
    spark: SparkSession, sf_dir: str, li: DataFrame, orders: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Shared q8 construction off the given fact frames: returns
    ``(li_flagged, asia_orders)`` — lineitem reduced to (l_orderkey,
    scaled-rev, is-target-supplier) via one broadcast supplier-flag
    probe, orders reduced ~5x through the ASIA customer dim chain to
    (o_orderkey, o_year). The fact-fact join strategy (broadcast gate /
    shuffled-hash / bucketed SMJ) is the variants' only difference, so
    it stays with the callers (`tpch_q8_market_share`,
    `layout.tpch_q8_bucketed`)."""
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    n_c = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk")
    )
    region = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    n_s = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    supp_flag = supp.join(n_s, supp.s_nationkey == F.col("snk")).select(
        "s_suppkey", (F.col("supp_nation") == "NATION_1").alias("tgt")
    )
    asia_orders = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_c), cust.c_nationkey == F.col("cnk"))
        .join(F.broadcast(region), F.col("crk") == region.r_regionkey)
        .select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    )
    li_flagged = (
        li.join(F.broadcast(supp_flag), li.l_suppkey == F.col("s_suppkey"))
        .select(
            "l_orderkey",
            _nearest_long_away(_revenue() * 10_000).alias("r"),
            "tgt",
        )
    )
    return li_flagged, asia_orders


def _q8_aggregate(joined: DataFrame) -> DataFrame:
    """Per-year market-share aggregate over the joined q8 facts (shared
    by every fact-join variant; arithmetic identical so all variants
    hash-match the one oracle)."""
    num = (
        F.sum(F.when(F.col("tgt"), F.col("r")).otherwise(F.lit(0).cast("long")))
        / 10_000.0
    )
    den = F.sum("r") / 10_000.0
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(num / den, 6).alias("mkt_share"),
            F.round(den, 4).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


def tpch_q11_important_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape — important inventory: (supplier, part) pairs whose
    revenue exceeds 3x the average pair value. The scalar subquery (the
    global average) is ONE 1-row aggregate broadcast back via cross join —
    never re-evaluated per group (adaptation: no partsupp table in the
    fixture; lineitem revenue stands in for supply value). Top-100 under
    a total order."""
    li = read_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_suppkey", "l_partkey").agg(
        F.round(dsum(_revenue()), 4).alias("pair_value")
    )
    avg_v = pv.agg(
        (
            F.sum(F.round(F.col("pair_value") * 100).cast("long"))
            / 100.0
            / F.count(F.lit(1))
        ).alias("avg_value")
    )
    return (
        pv.crossJoin(F.broadcast(avg_v))
        .filter(F.col("pair_value") > 3.0 * F.col("avg_value"))
        .select("l_suppkey", "l_partkey", "pair_value")
        .orderBy(F.col("pair_value").desc(), "l_suppkey", "l_partkey")
        .limit(100)
    )


def tpch_q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape — per lateness class, how many URGENT/HIGH vs other
    lines (adaptation: lateness buckets of shipdate - orderdate replace
    l_shipmode, which the fixture lacks). The CASE-sum pair runs in one
    aggregate over the joined year slice."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(days <= 30, F.lit("<=30d"))
        .when(days <= 60, F.lit("31-60d"))
        .otherwise(F.lit(">60d"))
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(urgent).alias("high_line_count"),
            F.sum(1 - urgent).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


def tpch_q16_supplier_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q16 shape — supplier counts per (brand, type, size) bucket with a
    NOT-IN exclusion list: the excluded-supplier subquery (name pattern)
    is tiny → broadcast anti join; supplier relationships derive from
    lineitem (no partsupp in the fixture). COUNT DISTINCT per 3-key
    bucket."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & ~F.col("p_type").startswith("MEDIUM")
    )
    excl = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").endswith("7")
    ).select(F.col("s_suppkey").alias("xk"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(excl), li.l_suppkey == F.col("xk"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


QUERIES = {
    "tpch_q1_pricing_summary": tpch_q1_pricing_summary,
    "tpch_q6_forecast_revenue": tpch_q6_forecast_revenue,
    "tpch_q3_shipping_priority": tpch_q3_shipping_priority,
    "tpch_q5_local_supplier_volume": tpch_q5_local_supplier_volume,
    "tpch_q7_volume_shipping": tpch_q7_volume_shipping,
    "tpch_q10_returned_items": tpch_q10_returned_items,
    "tpch_q14_promo_revenue_share": tpch_q14_promo_revenue_share,
    "tpch_q15_top_supplier": tpch_q15_top_supplier,
    "tpch_q18_large_volume": tpch_q18_large_volume,
    "tpch_q21_suppliers_kept_waiting": tpch_q21_suppliers_kept_waiting,
    "tpch_q4_order_priority": tpch_q4_order_priority,
    "tpch_q13_custdist": tpch_q13_custdist,
    "tpch_q17_small_qty_revenue": tpch_q17_small_qty_revenue,
    "tpch_q19_disjunctive_pred": tpch_q19_disjunctive_pred,
    "tpch_q22_global_sales_opportunity": tpch_q22_global_sales_opportunity,
    "tpch_q8_market_share": tpch_q8_market_share,
    "tpch_q11_important_pairs": tpch_q11_important_pairs,
    "tpch_q12_late_priority": tpch_q12_late_priority,
    "tpch_q16_supplier_distribution": tpch_q16_supplier_distribution,
}

_REV_SUM = dsum_sql(_REVENUE_SQL)

ORACLE = {
    "tpch_q1_pricing_summary": (
        "SELECT l_returnflag, l_linestatus, "
        + "ROUND(" + dsum_sql("l_quantity") + ", 4) AS sum_qty, "
        + "ROUND(" + dsum_sql("l_extendedprice") + ", 4) AS sum_base_price, "
        + "ROUND(" + dsum_sql(_REVENUE_SQL) + ", 4) AS sum_disc_price, "
        + "ROUND("
        + dsum_sql(_REVENUE_SQL + " * (1 + l_tax)")
        + ", 4) AS sum_charge, "
        + "ROUND(" + davg_sql("l_quantity") + ", 6) AS avg_qty, "
        + "ROUND(" + davg_sql("l_extendedprice") + ", 6) AS avg_price, "
        + "ROUND(" + davg_sql("l_discount") + ", 6) AS avg_disc, "
        "COUNT(*) AS count_order FROM lineitem "
        "WHERE l_shipdate <= TIMESTAMP '2000-09-02' "
        "GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    "tpch_q6_forecast_revenue": (
        "SELECT "
        + "ROUND("
        + dsum_sql("l_extendedprice * l_discount")
        + ", 4) AS revenue_effect, COUNT(*) AS n_lines FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1998-01-01' "
        "AND l_shipdate < TIMESTAMP '1999-01-01' "
        "AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24"
    ),
    "tpch_q3_shipping_priority": (
        "SELECT l_orderkey, o_orderdate, o_orderpriority, "
        f"ROUND({_REV_SUM}, 4) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1999-03-15' "
        "AND l_shipdate > TIMESTAMP '1999-03-15' "
        "GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10"
    ),
    "tpch_q5_local_supplier_volume": (
        f"SELECT n_name, ROUND({_REV_SUM}, 4) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA' "
        "AND o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01' "
        "GROUP BY 1 ORDER BY revenue DESC, n_name"
    ),
    "tpch_q7_volume_shipping": (
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "CAST(year(l_shipdate) AS INT) AS l_year, "
        f"ROUND({_REV_SUM}, 4) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1999-01-01' "
        "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
        "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
    ),
    "tpch_q10_returned_items": (
        "SELECT c_custkey, c_name, c_acctbal, n_name, "
        f"ROUND({_REV_SUM}, 4) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE l_returnflag = 'R' "
        "AND o_orderdate >= TIMESTAMP '1998-10-01' "
        "AND o_orderdate < TIMESTAMP '1999-01-01' "
        "GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20"
    ),
    "tpch_q14_promo_revenue_share": (
        "SELECT ROUND("
        + dsum_sql(
            "CASE WHEN p_type = 'PROMO' THEN " + _REVENUE_SQL + " ELSE 0.0 END"
        )
        + f" * 100.0 / {_REV_SUM}, 6) AS promo_revenue_pct, "
        f"ROUND({_REV_SUM}, 4) AS total_revenue "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE l_shipdate >= TIMESTAMP '1998-09-01' "
        "AND l_shipdate < TIMESTAMP '1998-10-01'"
    ),
    "tpch_q15_top_supplier": (
        "WITH rev AS (SELECT l_suppkey, "
        f"ROUND({_REV_SUM}, 4) AS total_rev "
        "FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1998-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-04-01' GROUP BY 1) "
        "SELECT s_suppkey, s_name, total_rev FROM rev "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "WHERE total_rev = (SELECT MAX(total_rev) FROM rev) "
        "ORDER BY s_suppkey"
    ),
    "tpch_q18_large_volume": (
        "WITH big AS (SELECT l_orderkey, "
        f"ROUND({dsum_sql('l_quantity')}, 4) AS sum_qty "
        "FROM lineitem GROUP BY 1 "
        f"HAVING ROUND({dsum_sql('l_quantity')}, 4) > 250) "
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, "
        "ROUND(o_totalprice, 4) AS o_totalprice, sum_qty "
        "FROM big JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 20"
    ),
    "tpch_q21_suppliers_kept_waiting": (
        "WITH l1 AS (SELECT l.l_orderkey, l.l_suppkey "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_orderstatus = 'F' "
        "AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) "
        "SELECT s_name, COUNT(*) AS numwait FROM l1 "
        "JOIN supplier ON l1.l_suppkey = s_suppkey "
        "WHERE EXISTS (SELECT 1 FROM lineitem l2 "
        "WHERE l2.l_orderkey = l1.l_orderkey "
        "AND l2.l_suppkey <> l1.l_suppkey) "
        "AND NOT EXISTS (SELECT 1 FROM l1 l3 "
        "WHERE l3.l_orderkey = l1.l_orderkey "
        "AND l3.l_suppkey <> l1.l_suppkey) "
        "GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20"
    ),
    "tpch_q4_order_priority": (
        "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders o "
        "WHERE o_orderdate >= TIMESTAMP '1997-07-01' "
        "AND o_orderdate < TIMESTAMP '1997-10-01' "
        "AND EXISTS (SELECT 1 FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey "
        "AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) "
        "GROUP BY 1 ORDER BY 1"
    ),
    "tpch_q13_custdist": (
        "WITH pc AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count "
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
        "AND o_orderpriority <> '1-URGENT' GROUP BY 1) "
        "SELECT c_count, COUNT(*) AS custdist FROM pc "
        "GROUP BY 1 ORDER BY custdist DESC, c_count DESC"
    ),
    "tpch_q17_small_qty_revenue": (
        "WITH a AS (SELECT l_partkey AS ak, "
        f"{davg_sql('l_quantity')} * 0.2 AS qty_cap "
        "FROM lineitem GROUP BY 1) "
        "SELECT "
        f"ROUND({dsum_sql('l_extendedprice')} / 7.0, 4) AS avg_yearly, "
        "COUNT(*) AS n_lines "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN a ON l_partkey = ak "
        "WHERE p_brand = 'Brand#12' AND p_size <= 10 "
        "AND l_quantity < qty_cap"
    ),
    "tpch_q19_disjunctive_pred": (
        f"SELECT ROUND({_REV_SUM}, 4) AS revenue, COUNT(*) AS n_lines "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 "
        "AND l_quantity BETWEEN 1 AND 11) "
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 "
        "AND l_quantity BETWEEN 10 AND 20) "
        "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50 "
        "AND l_quantity BETWEEN 20 AND 30)"
    ),
    "tpch_q22_global_sales_opportunity": (
        "WITH c AS (SELECT * FROM customer "
        "WHERE c_nationkey IN (1, 2, 3, 4, 5)), "
        "a AS (SELECT "
        f"{davg_sql('c_acctbal')} AS avg_bal "
        "FROM c WHERE c_acctbal > 0.0) "
        "SELECT CAST(c_nationkey AS INT) AS cntry, COUNT(*) AS numcust, "
        f"ROUND({dsum_sql('c_acctbal')}, 4) AS totacctbal "
        "FROM c, a WHERE c_acctbal > avg_bal "
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        "AND o_orderdate >= TIMESTAMP '2000-01-01') "
        "GROUP BY 1 ORDER BY 1"
    ),
    "tpch_q8_market_share": (
        "SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
        "ROUND("
        + dsum_sql(
            "CASE WHEN n2.n_name = 'NATION_1' THEN "
            "l_extendedprice * (1 - l_discount) ELSE 0.0 END"
        )
        + f" / {_REV_SUM}, 6) AS mkt_share, "
        f"ROUND({_REV_SUM}, 4) AS total_revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation n1 ON c_nationkey = n1.n_nationkey "
        "JOIN region ON n1.n_regionkey = r_regionkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey "
        "WHERE r_name = 'ASIA' GROUP BY 1 ORDER BY 1"
    ),
    "tpch_q11_important_pairs": (
        "WITH pv AS (SELECT l_suppkey, l_partkey, "
        f"ROUND({_REV_SUM}, 4) AS pair_value FROM lineitem GROUP BY 1, 2), "
        "a AS (SELECT CAST(SUM(CAST(ROUND(pair_value * 100) AS BIGINT)) "
        "AS DOUBLE) / 100.0 / COUNT(*) AS avg_value FROM pv) "
        "SELECT l_suppkey, l_partkey, pair_value FROM pv, a "
        "WHERE pair_value > 3.0 * avg_value "
        "ORDER BY pair_value DESC, l_suppkey, l_partkey LIMIT 100"
    ),
    "tpch_q12_late_priority": (
        "SELECT CASE "
        "WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN '<=30d' "
        "WHEN date_diff('day', o_orderdate, l_shipdate) <= 60 THEN '31-60d' "
        "ELSE '>60d' END AS ship_bucket, "
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01' "
        "GROUP BY 1 ORDER BY 1"
    ),
    "tpch_q16_supplier_distribution": (
        "SELECT p_brand, p_type, p_size, "
        "COUNT(DISTINCT l_suppkey) AS supplier_cnt "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%' "
        "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier "
        "WHERE s_name LIKE '%7') "
        "GROUP BY 1, 2, 3"
    ),
}
