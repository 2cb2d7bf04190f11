"""Multi-level and distinct aggregation operators (SURVEY §2.10 X5–X7)
plus the benchmark's heavy aggregate queries.

The reference computes multi-level roll-ups as separate groupbys per level
(``dashboard_nfp.py:247,250``); Spark's ``rollup``/``cube`` produce all
grouping sets in one pass over the fact table (partial aggregation happens
map-side once, then each grouping set reuses it).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from ..functions.numerics import d38, davg, davg_sql, dround, dsum, dsum_sql
from ..functions.timeparts import year_of
from ..functions.plan_cache import plan_memo
from ..functions.ranks import top_k
from ..io import read_table


def agg_grouping_sets_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — CUBE over (status, priority): all four grouping sets in one
    shuffle (``df.cube``), vs. the reference's one-groupby-per-level."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(dsum("o_totalprice"), 4).alias("total"),
    )


def agg_rollup_year_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5b — ROLLUP (year, quarter): yearly and quarterly levels plus grand
    total in ONE pass — the reference's two separate groupbys
    (``dashboard_nfp.py:247,250``) folded into a single operator."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.rollup(
        year_of("o_orderdate").alias("year"),
        F.quarter("o_orderdate").cast("int").alias("quarter"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(dsum("o_totalprice"), 4).alias("total"),
    )


def agg_distinct_and_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 (exact half) — COUNT(DISTINCT) per year. Spark expands distinct
    aggregation into a two-phase shuffle; exact, oracle-checked."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(year_of("o_orderdate").alias("year")).agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 (approx half) — HyperLogLog++ sketch per year. At 100 TB this is
    the scalable path: fixed-size sketch state, single aggregation pass, no
    distinct expansion. Not oracle-hashable (sketch error is
    engine-specific) → rows-only check; the exact twin above is the
    correctness anchor."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(year_of("o_orderdate").alias("year")).agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n_customers_approx"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@plan_memo
def window_rank_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — top-3 orders per customer: rank window partitioned by the group
    key. One shuffle on the partition key; with AQE the skewed-partition
    split keeps stragglers bounded. Deterministic tiebreak on o_orderkey."""
    orders = read_table(spark, sf_dir, "orders")
    return top_k(
        orders, "o_custkey", 3, F.col("o_totalprice").desc(), "o_orderkey"
    ).select(
        "o_custkey",
        "o_orderkey",
        dround("o_totalprice", 4).alias("o_totalprice"),
        "rn",
    )


def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7b — the full ranking-window family in one pass: row_number, rank,
    dense_rank (true ties via a coarse price bucket), ntile, lead/lag.
    One shuffle on the partition key serves all six functions (same window
    spec → single WindowExec). Tie handling: rank/dense_rank rank by the
    bucket alone (ties collapse identically in both engines); positional
    functions (row_number/ntile/lead/lag) add a unique key tiebreak."""
    orders = read_table(spark, sf_dir, "orders")
    w_pos = Window.partitionBy("year").orderBy(F.col("bucket").desc(), "o_orderkey")
    w_tie = Window.partitionBy("year").orderBy(F.col("bucket").desc())
    return (
        orders.select(
            "o_orderkey",
            year_of("o_orderdate").alias("year"),
            dround(F.col("o_totalprice"), -3).alias("bucket"),
        )
        .select(
            "o_orderkey",
            "year",
            "bucket",
            F.row_number().over(w_pos).cast("int").alias("rn"),
            F.rank().over(w_tie).cast("int").alias("rnk"),
            F.dense_rank().over(w_tie).cast("int").alias("drnk"),
            F.ntile(4).over(w_pos).cast("int").alias("quartile"),
            F.lead("bucket", 1).over(w_pos).alias("next_bucket"),
            F.lag("bucket", 1).over(w_pos).alias("prev_bucket"),
        )
    )


@plan_memo
def join_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark heavy aggregate (TPC-H Q1 shape) on lineitem: filter →
    6-measure hash aggregate on 2 keys. Whole-stage-codegen'd, map-side
    partials; decimal-backed sums keep it deterministic under parallelism."""
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(dsum("l_quantity"), 4).alias("sum_qty"),
            F.round(dsum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(dsum(disc_price), 4).alias("sum_disc_price"),
            F.round(davg("l_quantity"), 6).alias("avg_qty"),
            F.round(davg("l_extendedprice"), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@plan_memo
def events_sessionish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark events aggregate: 2-key groupBy + deterministic top-20."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dsum("value"), 4).alias("sum_value"),
        )
        .orderBy(F.col("n_events").desc(), "user_id", "event_type")
        .limit(20)
    )


def agg_boolean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate family per year: ``count_if``,
    ``bool_and`` / ``bool_or`` (ANSI EVERY/ANY), and a conditional sum —
    one hash aggregate, all predicates evaluated inline (the DuckDB twin
    uses CASE forms since its FILTER clause evaluates eagerly)."""
    orders = read_table(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 300000.0
    return (
        orders.groupBy(F.year("o_orderdate").alias("year"))
        .agg(
            F.count_if(big).alias("n_big"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.round(
                dsum(F.when(big, F.col("o_totalprice")).otherwise(F.lit(0.0))),
                4,
            ).alias("big_total"),
        )
        .orderBy("year")
    )


def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the skewed ``events.user_id`` key:
    phase 1 groups by (user, salt) so a hot user's rows spread over 8
    tasks' map-side partials; phase 2 merges the ≤8 partials per user.
    Associative measures only (count, scaled-int sum) — exactly the
    restriction ``functions/skew.py`` documents. The oracle is the plain
    one-phase groupBy: salting must never change results, only physics."""
    from ..functions.numerics import SCALE
    from ..functions.skew import with_salt

    ev = read_table(spark, sf_dir, "events").select("user_id", "value")
    partial = (
        with_salt(ev, 8)
        .groupBy("user_id", "__salt")
        .agg(
            F.count(F.lit(1)).alias("n_part"),
            F.sum(F.round(F.col("value") * SCALE).cast("long")).alias("sv_part"),
        )
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("n_part").alias("n_events"),
            F.round(
                (F.sum("sv_part").cast("double") / float(SCALE)), 4
            ).alias("sum_value"),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(20)
    )


def _geomean_udaf():
    """Grouped-agg pandas UDF (Arrow-vectorized): geometric mean.

    Demonstrates the custom-UDAF surface (SURVEY §2.9 extension). The hot
    path stays vectorized: one Arrow batch per group, numpy math inside.
    Built lazily — the ``pandas_udf`` decorator needs an active session.
    """

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        import numpy as np

        # non-positive values are excluded (log undefined) — the oracle
        # mirrors this with CASE WHEN x > 0 THEN LN(x) END inside AVG
        # (NOT a FILTER clause: DuckDB evaluates LN eagerly under FILTER
        # and errors on zero); all-non-positive → NULL
        x = v.to_numpy()
        x = x[x > 0]
        if x.size == 0:
            return None
        return float(np.exp(np.log(x).mean()))

    return geomean


def agg_custom_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via grouped-agg ``pandas_udf``: per-year geometric
    mean of order value. Oracle twin: exp(avg(ln(x))) — both sides rounded
    to 6 dp (FP parity here is looser than builtin sums because the UDF
    computes in numpy; 6 dp on a ~1e5 magnitude is still stable since the
    log-domain mean is well-conditioned)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(year_of("o_orderdate").alias("year")).agg(
        F.round(_geomean_udaf()("o_totalprice"), 4).alias("geomean_price")
    )


QUERIES = {
    "agg_grouping_sets_cube": agg_grouping_sets_cube,
    "agg_rollup_year_quarter": agg_rollup_year_quarter,
    "agg_distinct_and_approx": agg_distinct_and_approx,
    "agg_approx_count_distinct": agg_approx_count_distinct,
    "window_rank_topk_per_group": window_rank_topk_per_group,
    "window_rank_variants": window_rank_variants,
    "join_agg_pricing": join_agg_pricing,
    "events_sessionish": events_sessionish,
    "agg_salted_two_phase": agg_salted_two_phase,
    "agg_boolean_family": agg_boolean_family,
    "agg_custom_udaf_geomean": agg_custom_udaf_geomean,
}

ORACLE = {
    "agg_grouping_sets_cube": (
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders, "
        f"ROUND({dsum_sql('o_totalprice')}, 4) AS total "
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"
    ),
    "agg_rollup_year_quarter": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "CAST(quarter(o_orderdate) AS INT) AS quarter, COUNT(*) AS n_orders, "
        f"ROUND({dsum_sql('o_totalprice')}, 4) AS total "
        "FROM orders GROUP BY ROLLUP (year, quarter)"
    ),
    "agg_distinct_and_approx": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders "
        "FROM orders GROUP BY 1"
    ),
    # agg_approx_count_distinct: rows-only (sketch estimates are
    # engine-specific; exact twin above is hash-checked).
    "window_rank_topk_per_group": (
        "SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice, "
        "CAST(rn AS INT) AS rn FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        "ROW_NUMBER() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) "
        "WHERE rn <= 3"
    ),
    "window_rank_variants": (
        "WITH b AS (SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS year, "
        "ROUND(o_totalprice, -3) AS bucket FROM orders) "
        "SELECT o_orderkey, year, bucket, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY year "
        "ORDER BY bucket DESC, o_orderkey) AS INT) AS rn, "
        "CAST(RANK() OVER (PARTITION BY year ORDER BY bucket DESC) AS INT) "
        "AS rnk, "
        "CAST(DENSE_RANK() OVER (PARTITION BY year ORDER BY bucket DESC) AS INT) "
        "AS drnk, "
        "CAST(NTILE(4) OVER (PARTITION BY year "
        "ORDER BY bucket DESC, o_orderkey) AS INT) AS quartile, "
        "LEAD(bucket, 1) OVER (PARTITION BY year "
        "ORDER BY bucket DESC, o_orderkey) AS next_bucket, "
        "LAG(bucket, 1) OVER (PARTITION BY year "
        "ORDER BY bucket DESC, o_orderkey) AS prev_bucket FROM b"
    ),
    "join_agg_pricing": (
        "SELECT l_returnflag, l_linestatus, "
        f"ROUND({dsum_sql('l_quantity')}, 4) AS sum_qty, "
        f"ROUND({dsum_sql('l_extendedprice')}, 4) AS sum_base_price, "
        f"ROUND({dsum_sql('l_extendedprice * (1 - l_discount)')}, 4) "
        "AS sum_disc_price, "
        f"ROUND({davg_sql('l_quantity')}, 6) AS avg_qty, "
        f"ROUND({davg_sql('l_extendedprice')}, 6) AS avg_price, "
        "COUNT(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02' GROUP BY 1, 2"
    ),
    "agg_boolean_family": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "CAST(SUM(CASE WHEN o_totalprice > 300000.0 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_big, "
        "bool_or(o_orderstatus = 'F') AS any_finished, "
        "bool_and(o_totalprice > 0) AS all_positive, "
        + "ROUND("
        + dsum_sql(
            "CASE WHEN o_totalprice > 300000.0 THEN o_totalprice ELSE 0.0 END"
        )
        + ", 4) AS big_total "
        "FROM orders GROUP BY 1 ORDER BY 1"
    ),
    "agg_salted_two_phase": (
        "SELECT user_id, COUNT(*) AS n_events, "
        f"ROUND({dsum_sql('value')}, 4) AS sum_value "
        "FROM events GROUP BY 1 "
        "ORDER BY n_events DESC, user_id LIMIT 20"
    ),
    "events_sessionish": (
        "SELECT user_id, event_type, COUNT(*) AS n_events, "
        f"ROUND({dsum_sql('value')}, 4) AS sum_value "
        "FROM events GROUP BY 1, 2 "
        "ORDER BY n_events DESC, user_id, event_type LIMIT 20"
    ),
    # CASE (not FILTER): DuckDB evaluates LN eagerly per row, so FILTER
    # still hits LN(0); AVG ignores the CASE's NULLs — matching the UDF's
    # exclude-non-positive semantics exactly.
    "agg_custom_udaf_geomean": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "ROUND(EXP(AVG(CASE WHEN o_totalprice > 0 "
        "THEN LN(o_totalprice) END)), 4) AS geomean_price "
        "FROM orders GROUP BY 1"
    ),
}


# --- Exact higher moments: skewness & kurtosis --------------------------------


def _qty_power_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per ship year ``(year, n, s1, m2e, m3e, m4e)``: the power sums
    S1..S4 of per-line quantity combined exactly (DECIMAL(38,0) ≡
    HUGEINT) into M2 = n²·m2, M3 = n³·m3 and M4 = n⁴·m4 (formulas in
    `agg_skew_kurtosis`), zero-variance years dropped on the exact M2.
    Shared by the skewness/kurtosis and Jarque–Bera operators."""
    li = read_table(spark, sf_dir, "lineitem")
    # quantities are integral in every fixture; round-first (the dsum
    # device) so a fractional value could never truncate (Spark) vs
    # round (DuckDB) differently
    q = dround("l_quantity", 0).cast("long")
    per = li.groupBy(year_of("l_shipdate").alias("year")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n, s1, s2, s3, s4 = (d38(x) for x in ("n", "s1", "s2", "s3", "s4"))
    return per.select(
        "year",
        "n",
        "s1",
        (n * s2 - s1 * s1).alias("m2e"),
        (n * n * s3 - F.lit(3) * n * s1 * s2 + F.lit(2) * s1 * s1 * s1)
        .alias("m3e"),
        (
            n * n * n * s4
            - F.lit(4) * n * n * s1 * s3
            + F.lit(6) * n * s1 * s1 * s2
            - F.lit(3) * s1 * s1 * s1 * s1
        ).alias("m4e"),
    ).filter(F.col("m2e") > 0)


def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Exact population skewness and excess kurtosis** of per-line
    quantity by ship year — the shape statistics after mean/variance
    (`agg_corr_covar`) and the distribution-rank family. NOT the
    engines' built-in ``skewness()``/``kurtosis()`` aggregates (Spark
    and DuckDB disagree on bias correction); both sides compute the
    same raw-power-sum combination:

        M2 = n*S2 - S1^2              (= n^2 * m2)
        M3 = n^2*S3 - 3n*S1*S2 + 2*S1^3      (= n^3 * m3)
        M4 = n^3*S4 - 4n^2*S1*S3 + 6n*S1^2*S2 - 3*S1^4  (= n^4 * m4)

    with the n-powers cancelling in the exposed ratios: g1 = m3/m2^1.5
    = M3/(M2*sqrt(M2)) and g2 = m4/m2^2 - 3 = M4/(M2*M2) - 3 — one
    exact-integer combination (DECIMAL(38,0) == HUGEINT; quantities are
    small integers so S4 fits int64 even at 100x) cast once to double,
    then sqrt (IEEE correctly-rounded) and fixed-shape quotients.

    Scale: ONE map-side-combinable aggregate over the fact table (the
    power sums are ordinary SUMs); the moment algebra runs on the
    ~7-row year frame. Zero-variance groups are filtered on the exact
    integer M2 in both engines (no Inf can reach the rounding)."""
    with_m = _qty_power_moments(spark, sf_dir)
    m2, m3, m4 = (F.col(x).cast("double") for x in ("m2e", "m3e", "m4e"))
    n_d = F.col("n").cast("double")
    return with_m.select(
        "year",
        F.col("n").cast("long").alias("n_lines"),
        dround(F.col("s1").cast("double") / n_d, 6).alias("mean_qty"),
        dround(F.sqrt(m2) / n_d, 6).alias("sd_qty"),
        dround(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        dround(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis_excess"),
    ).orderBy("year")


QUERIES["agg_skew_kurtosis"] = agg_skew_kurtosis

ORACLE["agg_skew_kurtosis"] = (
    "WITH per AS (SELECT CAST(year(l_shipdate) AS INT) AS year, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS s1, "
    "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT) * CAST(ROUND(l_quantity) AS BIGINT)) "
    "AS BIGINT) AS s2, "
    "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT) * CAST(ROUND(l_quantity) AS BIGINT) "
    "* CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS s3, "
    "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT) * CAST(ROUND(l_quantity) AS BIGINT) "
    "* CAST(ROUND(l_quantity) AS BIGINT) * CAST(ROUND(l_quantity) AS BIGINT)) "
    "AS BIGINT) AS s4 FROM lineitem GROUP BY 1), "
    "m AS (SELECT year, n, s1, "
    "CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS m2e, "
    "CAST(n AS HUGEINT) * n * s3 "
    "- 3 * CAST(n AS HUGEINT) * s1 * s2 "
    "+ 2 * CAST(s1 AS HUGEINT) * s1 * s1 AS m3e, "
    "CAST(n AS HUGEINT) * n * n * s4 "
    "- 4 * CAST(n AS HUGEINT) * n * s1 * s3 "
    "+ 6 * CAST(n AS HUGEINT) * s1 * s1 * s2 "
    "- 3 * CAST(s1 AS HUGEINT) * s1 * s1 * s1 AS m4e "
    "FROM per) "
    "SELECT year, n AS n_lines, "
    "ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_qty, "
    "ROUND(sqrt(CAST(m2e AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS sd_qty, "
    "ROUND(CAST(m3e AS DOUBLE) / (CAST(m2e AS DOUBLE) "
    "* sqrt(CAST(m2e AS DOUBLE))), 6) AS skewness, "
    "ROUND(CAST(m4e AS DOUBLE) / (CAST(m2e AS DOUBLE) "
    "* CAST(m2e AS DOUBLE)) - 3.0, 6) AS kurtosis_excess "
    "FROM m WHERE m2e > 0 ORDER BY year"
)


def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Jarque–Bera normality test** (Economics Letters 1980) of
    per-line quantity by ship year — the significance layer over
    `agg_skew_kurtosis`'s descriptive shape statistics:
    JB = n·(g1²/6 + g2²/24) with g1/g2 the same exact-raw-moment
    skewness and excess kurtosis.

    Shares the power-sum algebra verbatim (M2/M3/M4 exact integer
    combinations in DECIMAL(38,0) ≡ HUGEINT); the moments cast to
    double BEFORE any squaring (M3² would overflow 128 bits), then JB
    is one fixed-shape double expression — the same g1 = M3/(M2·√M2)
    and g2 = M4/M2² − 3 shapes as the descriptive twin, so the two
    operators can never drift apart.

    Scale: ONE map-side-combinable power-sum aggregate over lineitem;
    the test statistic runs on the ~7-row year frame."""
    with_m = _qty_power_moments(spark, sf_dir)
    m2, m3, m4 = (F.col(x).cast("double") for x in ("m2e", "m3e", "m4e"))
    n_d = F.col("n").cast("double")
    g1 = m3 / (m2 * F.sqrt(m2))
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    return with_m.select(
        "year",
        F.col("n").cast("long").alias("n_lines"),
        dround(g1, 6).alias("skewness"),
        dround(g2, 6).alias("kurtosis_excess"),
        dround(
            n_d * (g1 * g1 / F.lit(6.0) + g2 * g2 / F.lit(24.0)), 6
        ).alias("jb_stat"),
    ).orderBy("year")


QUERIES["agg_jarque_bera"] = agg_jarque_bera

ORACLE["agg_jarque_bera"] = (
    "WITH per AS (SELECT CAST(year(l_shipdate) AS INT) AS year, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS s1, "
    "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT) * CAST(ROUND(l_quantity) AS BIGINT)) "
    "AS BIGINT) AS s2, "
    "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT) * CAST(ROUND(l_quantity) AS BIGINT) "
    "* CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS s3, "
    "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT) * CAST(ROUND(l_quantity) AS BIGINT) "
    "* CAST(ROUND(l_quantity) AS BIGINT) * CAST(ROUND(l_quantity) AS BIGINT)) "
    "AS BIGINT) AS s4 FROM lineitem GROUP BY 1), "
    "m AS (SELECT year, n, "
    "CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS m2e, "
    "CAST(n AS HUGEINT) * n * s3 "
    "- 3 * CAST(n AS HUGEINT) * s1 * s2 "
    "+ 2 * CAST(s1 AS HUGEINT) * s1 * s1 AS m3e, "
    "CAST(n AS HUGEINT) * n * n * s4 "
    "- 4 * CAST(n AS HUGEINT) * n * s1 * s3 "
    "+ 6 * CAST(n AS HUGEINT) * s1 * s1 * s2 "
    "- 3 * CAST(s1 AS HUGEINT) * s1 * s1 * s1 AS m4e "
    "FROM per), "
    "g AS (SELECT year, n, "
    "CAST(m3e AS DOUBLE) / (CAST(m2e AS DOUBLE) * sqrt(CAST(m2e AS DOUBLE))) AS g1, "
    "CAST(m4e AS DOUBLE) / (CAST(m2e AS DOUBLE) * CAST(m2e AS DOUBLE)) - 3.0 AS g2 "
    "FROM m WHERE m2e > 0) "
    "SELECT year, n AS n_lines, "
    "ROUND(g1, 6) AS skewness, "
    "ROUND(g2, 6) AS kurtosis_excess, "
    "ROUND(CAST(n AS DOUBLE) * (g1 * g1 / 6.0 + g2 * g2 / 24.0), 6) AS jb_stat "
    "FROM g ORDER BY year"
)
