"""Core OLAP query pack — the reference's full analytical surface.

The reference (``dashboard_nfp.py``) asks 8 questions over one monthly
time series (slicing x2, dicing x2, roll-up x2, drill-down x2), executing
them as eager pandas with two row-at-a-time Python loops. Here the same
semantics run over the driver's ``orders`` fact table: the monthly series is
``SUM(o_totalprice)`` per month (same grain as the reference's monthly
employment level, ``etl.py:58-63``), and every question is a lazy DataFrame
plan — scan → hash aggregate → window — that Catalyst plans and AQE re-plans.

Scale notes (100 TB posture):
- The monthly aggregate is a single map-side-combinable hash aggregate on a
  derived month key; the raw fact table is never collected.
- Every panel over the monthly series reads ONE cached cube per table
  version (:func:`monthly_cube`): the month partials, coalesced to one
  partition AFTER the aggregate's exchange. The fact scan and the partial
  aggregate stay parallel at any scale; only the final merge of ≤ months
  rows runs as one task, and its ``SinglePartition`` output satisfies
  every later group-by, window and sort, so a panel over a filled cube
  plans no exchange and runs one job. The cube holds one row per month
  (a timestamp and three longs), whatever the fact table's size.
- Window specs over the *aggregated* series (≤ thousands of rows at any
  scale: months, not orders) are cheap regardless of fact-table size; the
  single-partition ``Window.orderBy`` only ever sees post-aggregation rows.
- The recovery "as-of" analysis (J1) — a per-row Python loop in the
  reference (``dashboard_nfp.py:156-171``) — is a running-max window plus a
  broadcast non-equi join, i.e. no driver-side iteration at any scale.

Determinism discipline shared with the DuckDB oracles: every exposed DOUBLE
is ``round()``-ed (4 dp for money sums, 6 dp for percents) so parallel
floating-point accumulation order cannot flip the value hash; every LIMIT is
preceded by a total ORDER BY with a unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numerics import (
    davg_partials,
    davg_sql,
    descale,
    dround,
    dsum,
    dsum_sql,
)
from ..functions.timeparts import (
    decade_label,
    diff,
    month_name,
    month_of,
    monthly_partials,
    months_between_int,
    pct_change,
    quarter_of,
    running_max_prior,
    year_of,
)
from ..functions.plan_cache import plan_memo
from ..io import read_table

# ---------------------------------------------------------------------------
# Shared building blocks
# ---------------------------------------------------------------------------


def orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "orders")


@plan_memo
def monthly_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The month partials of ``orders`` (``monthly_partials``: ``ms,
    n_orders, total_scaled, n_priced``) as one cached single-partition
    frame, the hot working set every monthly-series panel reads. The
    first action fills it (one parallel scan + partial aggregate, then a
    one-task final merge); later panels scan ≤ months cached rows with
    no exchange. It lives in the plan memo, so every path that drops
    the memo (a write + ``io.clear_table_cache``, ``io.cache_tables``,
    ``clear_plan_memo``) also unpersists it.

    It pays off only where at least two cube-served reads hit one table
    version: the fill is an extra job, which only later reads recoup. The
    first read after a write (and every read of bench.py's fresh-exec
    loop, which drops the memo each run) pays the fill and runs slower
    than a direct roll-up of ``orders``; a roll-up panel's memo hit
    re-aggregates the cached months (a partial and a final aggregate)
    where a direct roll-up's hit only re-ran its final aggregate."""
    return monthly_partials(orders(spark, sf_dir)).coalesce(1).cache()


def monthly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's fact series: one row per month (mirrors the reference's
    ``nonfarm_payrolls`` grain), read off :func:`monthly_cube`."""
    return monthly_cube(spark, sf_dir).select(
        F.col("ms").alias("month_start"),
        descale("total_scaled").alias("total"),
        "n_orders",
    )


def monthly_with_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly series + lag-1 percent change + strictly-prior running peak
    (W1 + W4). The window runs on ~80 post-aggregation rows at any SF."""
    w_time = Window.orderBy("month_start")
    m = monthly_series(spark, sf_dir)
    return m.select(
        "month_start",
        "total",
        "n_orders",
        pct_change(F.col("total"), w_time).alias("pct"),
        running_max_prior(F.col("total"), w_time).alias("prior_peak"),
    )


# Matching SQL prelude for the DuckDB oracles (identical arithmetic and
# rounding, so both engines see bitwise-identical series values).
M_SQL = (
    "SELECT date_trunc('month', o_orderdate) AS month_start, "
    f"ROUND({dsum_sql('o_totalprice')}, 4) AS total, COUNT(*) AS n_orders "
    "FROM orders GROUP BY 1"
)
W_SQL = (
    f"WITH m AS ({M_SQL}), w AS ("
    "SELECT month_start, total, n_orders, "
    "(total - LAG(total) OVER (ORDER BY month_start)) * 100.0 "
    "/ LAG(total) OVER (ORDER BY month_start) AS pct, "
    "MAX(total) OVER (ORDER BY month_start "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_peak "
    "FROM m)"
)


# ---------------------------------------------------------------------------
# S — scans / cache
# ---------------------------------------------------------------------------


def scan_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — full-table scan. Unlike the reference's ``SELECT *`` into client
    memory (``dashboard_nfp.py:67-68``), this is a lazy columnar scan:
    downstream projections/filters push into the Parquet reader."""
    return orders(spark, sf_dir).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        dround("o_totalprice", 4).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )


def cache_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — memoized intermediate (``@st.cache_data``,
    ``dashboard_nfp.py:50``) → the monthly series off the cached
    :func:`monthly_cube`, reused by a downstream aggregate. The cube is
    the one cache entry per table version (a ``.cache()`` here would add
    another per call that nothing unpersists)."""
    m = monthly_series(spark, sf_dir)
    return m.groupBy(year_of("month_start").alias("year")).agg(
        F.count(F.lit(1)).alias("n_months"),
        F.round(dsum("total"), 4).alias("total"),
    )


# ---------------------------------------------------------------------------
# P — projections / filters
# ---------------------------------------------------------------------------


def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — column rename (``etl.py:34``)."""
    return orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderdate").alias("order_ts"),
        dround("o_totalprice", 4).alias("amount"),
    )


def project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — explicit casts (``etl.py:35``; ``dashboard_nfp.py:69,116``).
    ``floor`` before the int cast: Spark truncates double→int while DuckDB
    rounds, so the floor pins one semantic for both."""
    df = orders(spark, sf_dir)
    return df.select(
        "o_orderkey",
        F.floor("o_totalprice").cast("long").alias("price_int"),
        F.col("o_orderdate").cast("date").cast("timestamp").alias("order_date"),
        year_of("o_orderdate").cast("string").alias("year_str"),
    )


@plan_memo
def filter_in_and_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — conjunctive IN + BETWEEN predicate (``dashboard_nfp.py:112-115``).

    Function-wrapped predicates (``year(ts) IN ...``) cannot reach the
    Parquet reader, so a redundant RANGE predicate on the raw column is
    added — semantically implied by the year filter, but sargable: it
    pushes to the scan for row-group/page skipping and, on
    year-partitioned layouts, partition pruning. This is the load-bearing
    100 TB optimization for time-slice queries."""
    df = orders(spark, sf_dir)
    lo = F.lit("1995-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    return df.filter(
        (F.col("o_orderdate") >= lo)
        & (F.col("o_orderdate") < hi)
        & year_of("o_orderdate").isin(1995, 1996)
        & month_of("o_orderdate").between(3, 12)
    ).select(
        "o_orderkey",
        "o_custkey",
        dround("o_totalprice", 4).alias("o_totalprice"),
        "o_orderdate",
    )


@plan_memo
def filter_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 (+W1) — sharp-drop months: lag pct-change < -2%
    (``dashboard_nfp.py:152-153``)."""
    w = monthly_with_pct(spark, sf_dir)
    return w.filter(F.col("pct") < -2).select(
        "month_start", "total", dround("pct", 6).alias("mom_pct_change")
    )


def filter_month_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — Q4 slice: month IN (10,11,12) (``dashboard_nfp.py:195``)."""
    m = monthly_series(spark, sf_dir)
    return m.filter(month_of("month_start").isin(10, 11, 12)).select(
        "month_start", "total"
    )


def filter_eq_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — equality drill filter (``dashboard_nfp.py:347``)."""
    m = monthly_series(spark, sf_dir)
    return m.filter(year_of("month_start") == 1998).select("month_start", "total")


def filter_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — drop the lag-null first row (``etl.py:38``)."""
    w = monthly_with_pct(spark, sf_dir)
    return w.filter(F.col("pct").isNotNull()).select(
        "month_start", "total", dround("pct", 6).alias("mom_pct_change")
    )


def filter_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — range predicates against a computed scalar
    (``dashboard_nfp.py:161,164``): months after an anchor whose level
    recovered above the pre-anchor peak. The scalar is broadcast-joined,
    never collected to the driver."""
    anchor = F.lit("1995-06-01").cast("date")
    m = monthly_series(spark, sf_dir)
    peak = m.filter(F.col("month_start") < anchor).agg(
        F.max("total").alias("pre_peak")
    )
    return (
        m.join(F.broadcast(peak))
        .filter((F.col("month_start") > anchor) & (F.col("total") >= F.col("pre_peak")))
        .select("month_start", "total", F.round("pre_peak", 4).alias("pre_peak"))
    )


# ---------------------------------------------------------------------------
# A — aggregations (slice / rollup / dice)
# ---------------------------------------------------------------------------


@plan_memo
def slice_avg_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — yearly average (``dashboard_nfp.py:85-97``). The flagship
    query: a roll-up of the monthly cube."""
    return (
        monthly_cube(spark, sf_dir)
        .groupBy(year_of("ms").alias("year"))
        .agg(
            F.round(davg_partials(F.sum("total_scaled"), F.sum("n_priced")), 4)
            .alias("avg_totalprice")
        )
    )


def rollup_quarter_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — quarterly roll-up (``dashboard_nfp.py:246-247``).
    Read off the monthly cube."""
    return (
        monthly_cube(spark, sf_dir)
        .groupBy(year_of("ms").alias("year"), quarter_of("ms").alias("quarter"))
        .agg(descale(F.sum("total_scaled")).alias("total"))
    )


@plan_memo
def rollup_year_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — yearly roll-up (``dashboard_nfp.py:250``).
    Read off the monthly cube."""
    return (
        monthly_cube(spark, sf_dir)
        .groupBy(year_of("ms").alias("year"))
        .agg(descale(F.sum("total_scaled")).alias("total"))
    )


@plan_memo
def rollup_decade_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — decade bucket then average (``dashboard_nfp.py:300-301``),
    total-function lambda semantics (SURVEY §2.5 divergence resolution):
    every year gets a bucket. Builtin expression, not the reference's UDF.
    A roll-up of the monthly cube."""
    return (
        monthly_cube(spark, sf_dir)
        .groupBy(decade_label(year_of("ms")).alias("decade"))
        .agg(
            F.round(davg_partials(F.sum("total_scaled"), F.sum("n_priced")), 4)
            .alias("avg_totalprice")
        )
    )


@plan_memo
def dice_q4_avg_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — Q4 growth by month name. SQL-expander semantics chosen per
    SURVEY §2.5: lag over the FULL series first (so October vs September is
    included), then the Q4 filter (``dashboard_nfp.py:206-221``)."""
    w = monthly_with_pct(spark, sf_dir)
    return (
        w.filter(month_of("month_start").isin(10, 11, 12) & F.col("pct").isNotNull())
        .groupBy(month_name("month_start").alias("month_name"))
        .agg(F.round(F.avg("pct"), 6).alias("avg_pct_change"))
    )


def scalar_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — global max of the series (prior-peak scalar,
    ``dashboard_nfp.py:161``)."""
    return monthly_series(spark, sf_dir).agg(
        F.round(F.max("total"), 4).alias("max_total")
    )


def scalar_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — global min (recovery-date min shape, ``dashboard_nfp.py:167``)."""
    return monthly_series(spark, sf_dir).agg(
        F.round(F.min("total"), 4).alias("min_total")
    )


def argmax_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — the rows achieving the extremes (pandas ``idxmax``/``idxmin``,
    ``dashboard_nfp.py:340,399``) as order-by-limit-1 with a deterministic
    month tiebreak, cross-joined into one row. A month whose prices are
    all null has a null total; both sorts put it last, as DuckDB's
    default ``NULLS LAST`` does (Spark's ascending default is first)."""
    m = monthly_series(spark, sf_dir)
    peak = (
        m.orderBy(F.col("total").desc(), "month_start")
        .limit(1)
        .select(F.col("month_start").alias("peak_month"))
    )
    trough = (
        m.orderBy(F.col("total").asc_nulls_last(), "month_start")
        .limit(1)
        .select(F.col("month_start").alias("trough_month"))
    )
    return peak.crossJoin(trough)


# ---------------------------------------------------------------------------
# W — window functions
# ---------------------------------------------------------------------------


@plan_memo
def window_pct_change_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — lag-1 pct change over the whole series (``etl.py:37``),
    null first row retained (callers drop per P7)."""
    w = monthly_with_pct(spark, sf_dir)
    return w.select("month_start", "total", dround("pct", 6).alias("mom_pct_change"))


def window_pct_change_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — lag-1 pct change within each year partition
    (``dashboard_nfp.py:196``)."""
    m = monthly_series(spark, sf_dir)
    w = Window.partitionBy(year_of("month_start")).orderBy("month_start")
    return m.select(
        "month_start",
        "total",
        dround(pct_change(F.col("total"), w), 6).alias("pct_in_year"),
    )


def window_diff_on_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — window on top of an aggregate (the reference's CTE-then-window
    SQL shape, ``dashboard_nfp.py:260-289``): yearly totals, annual gain
    (``diff()``, ``dashboard_nfp.py:339``) and YoY pct."""
    y = rollup_year_sum(spark, sf_dir)
    w = Window.orderBy("year")
    return y.select(
        "year",
        "total",
        F.round(diff(F.col("total"), w), 4).alias("annual_gain"),
        dround(pct_change(F.col("total"), w), 6).alias("yoy_pct"),
    )


@plan_memo
def rollup_quarter_qoq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+W3 — quarterly totals with QoQ growth (``dashboard_nfp.py:260-274``)."""
    q = rollup_quarter_sum(spark, sf_dir)
    w = Window.orderBy("year", "quarter")
    return q.select(
        "year",
        "quarter",
        "total",
        dround(pct_change(F.col("total"), w), 6).alias("qoq_pct"),
    )


def window_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — running prior-peak with an explicit rows-frame
    (``dashboard_nfp.py:161``)."""
    w = monthly_with_pct(spark, sf_dir)
    return w.select(
        "month_start", "total", F.round("prior_peak", 4).alias("prior_peak")
    )


# ---------------------------------------------------------------------------
# O — sort / limit / top-k
# ---------------------------------------------------------------------------


def sort_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — ORDER BY date (``dashboard_nfp.py:96,129``)."""
    return monthly_series(spark, sf_dir).orderBy("month_start")


def limit_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — head(5) preview (``dashboard_nfp.py:295``); deterministic via a
    total order before the limit."""
    return rollup_quarter_sum(spark, sf_dir).orderBy("year", "quarter").limit(5)


@plan_memo
def top1_by_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 — the year with the largest annual gain, ORDER BY ... LIMIT 1
    (``dashboard_nfp.py:355-374``). TakeOrderedAndProject physically — no
    full sort at scale."""
    g = window_diff_on_agg(spark, sf_dir)
    return (
        g.orderBy(F.desc_nulls_last("annual_gain"), "year")
        .limit(1)
        .select("year", "total", "annual_gain")
    )


@plan_memo
def drill_sharpest_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-down Q2 — the month with the sharpest MoM drop
    (``dashboard_nfp.py:398-401``)."""
    w = monthly_with_pct(spark, sf_dir)
    return (
        w.filter(F.col("pct").isNotNull())
        .orderBy(F.asc_nulls_last("pct"), "month_start")
        .limit(1)
        .select(
            "month_start",
            month_name("month_start").alias("month_name"),
            dround("pct", 6).alias("mom_pct_change"),
        )
    )


# ---------------------------------------------------------------------------
# J — join shapes (the reference's implicit ones)
# ---------------------------------------------------------------------------


@plan_memo
def dice_recovery_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — the recovery analysis, the reference's one nontrivial query and
    its worst anti-pattern: a per-drop ``iterrows`` loop
    (``dashboard_nfp.py:156-171``) whose own SQL expander claims SQL cannot
    express it (``dashboard_nfp.py:177``). It can:

    1. prior peak  = running max over strictly-preceding rows (W4 frame);
    2. drops       = rows with pct < -2 (P4);
    3. recovery    = for each drop, MIN(month) after it whose level ≥ that
       peak — a non-equi join of the tiny drops table against the (also
       tiny, post-aggregation) series, broadcast, then a conditional MIN;
    4. months-to-recover = exact month arithmetic (F5).

    No driver-side loop; both join inputs are post-aggregation series, so
    the shape is invariant to fact-table scale.
    """
    w = monthly_with_pct(spark, sf_dir)
    drops = w.filter(F.col("pct") < -2).select(
        F.col("month_start").alias("drop_month"),
        F.col("pct"),
        F.col("prior_peak"),
    )
    series = w.select(
        F.col("month_start").alias("m_month"), F.col("total").alias("m_total")
    )
    rec = (
        drops.join(
            F.broadcast(series),
            (F.col("m_month") > F.col("drop_month"))
            & (F.col("m_total") >= F.col("prior_peak")),
            "left",
        )
        .groupBy("drop_month", "pct", "prior_peak")
        .agg(F.min("m_month").alias("recovery_month"))
    )
    return rec.select(
        "drop_month",
        dround("pct", 6).alias("drop_pct"),
        F.round("prior_peak", 4).alias("prior_peak"),
        "recovery_month",
        months_between_int(F.col("recovery_month"), F.col("drop_month")).alias(
            "months_to_recover"
        ),
    )


def lookup_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — point lookup of the month achieving the global peak
    (``dashboard_nfp.py:170``) — order-by-limit-1, no collect."""
    m = monthly_series(spark, sf_dir)
    return (
        m.orderBy(F.col("total").desc(), "month_start")
        .limit(1)
        .select(
            F.col("month_start").alias("peak_month"),
            F.col("total").alias("peak_total"),
        )
    )


# ---------------------------------------------------------------------------
# Registry for this module
# ---------------------------------------------------------------------------

QUERIES = {
    "scan_table": scan_table,
    "cache_result": cache_result,
    "project_rename": project_rename,
    "project_cast": project_cast,
    "filter_in_and_between": filter_in_and_between,
    "filter_threshold": filter_threshold,
    "filter_month_in": filter_month_in,
    "filter_eq_year": filter_eq_year,
    "filter_dropna": filter_dropna,
    "filter_theta_range": filter_theta_range,
    "slice_avg_by_year": slice_avg_by_year,
    "rollup_quarter_sum": rollup_quarter_sum,
    "rollup_year_sum": rollup_year_sum,
    "rollup_decade_avg": rollup_decade_avg,
    "dice_q4_avg_by_month": dice_q4_avg_by_month,
    "scalar_max": scalar_max,
    "scalar_min": scalar_min,
    "argmax_argmin": argmax_argmin,
    "window_pct_change_global": window_pct_change_global,
    "window_pct_change_partitioned": window_pct_change_partitioned,
    "window_diff_on_agg": window_diff_on_agg,
    "rollup_quarter_qoq": rollup_quarter_qoq,
    "window_running_max": window_running_max,
    "sort_by_time": sort_by_time,
    "limit_head": limit_head,
    "top1_by_metric": top1_by_metric,
    "drill_sharpest_drop": drill_sharpest_drop,
    "dice_recovery_asof": dice_recovery_asof,
    "lookup_scalar": lookup_scalar,
}

ORACLE = {
    "scan_table": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, "
        "ROUND(o_totalprice, 4) AS o_totalprice, o_orderdate, o_orderpriority "
        "FROM orders"
    ),
    "cache_result": (
        f"WITH m AS ({M_SQL}) "
        "SELECT CAST(year(month_start) AS INT) AS year, COUNT(*) AS n_months, "
        "ROUND((CAST(SUM(CAST(ROUND((total) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0), 4) AS total FROM m GROUP BY 1"
    ),
    "project_rename": (
        "SELECT o_orderkey AS order_id, o_orderdate AS order_ts, "
        "ROUND(o_totalprice, 4) AS amount FROM orders"
    ),
    "project_cast": (
        "SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT) AS price_int, "
        "CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS order_date, "
        "CAST(CAST(year(o_orderdate) AS INT) AS VARCHAR) AS year_str FROM orders"
    ),
    "filter_in_and_between": (
        "SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS o_totalprice, "
        "o_orderdate FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1995-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-01-01' "
        "AND year(o_orderdate) IN (1995, 1996) "
        "AND month(o_orderdate) BETWEEN 3 AND 12"
    ),
    "filter_threshold": (
        f"{W_SQL} SELECT month_start, total, ROUND(pct, 6) AS mom_pct_change "
        "FROM w WHERE pct < -2"
    ),
    "filter_month_in": (
        f"WITH m AS ({M_SQL}) SELECT month_start, total FROM m "
        "WHERE month(month_start) IN (10, 11, 12)"
    ),
    "filter_eq_year": (
        f"WITH m AS ({M_SQL}) SELECT month_start, total FROM m "
        "WHERE year(month_start) = 1998"
    ),
    "filter_dropna": (
        f"{W_SQL} SELECT month_start, total, ROUND(pct, 6) AS mom_pct_change "
        "FROM w WHERE pct IS NOT NULL"
    ),
    "filter_theta_range": (
        f"WITH m AS ({M_SQL}), peak AS ("
        "SELECT MAX(total) AS pre_peak FROM m "
        "WHERE month_start < DATE '1995-06-01') "
        "SELECT m.month_start, m.total, ROUND(peak.pre_peak, 4) AS pre_peak "
        "FROM m CROSS JOIN peak "
        "WHERE m.month_start > DATE '1995-06-01' AND m.total >= peak.pre_peak"
    ),
    "slice_avg_by_year": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        f"ROUND({davg_sql('o_totalprice')}, 4) AS avg_totalprice FROM orders GROUP BY 1"
    ),
    "rollup_quarter_sum": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "CAST(quarter(o_orderdate) AS INT) AS quarter, "
        f"ROUND({dsum_sql('o_totalprice')}, 4) AS total FROM orders GROUP BY 1, 2"
    ),
    "rollup_year_sum": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        f"ROUND({dsum_sql('o_totalprice')}, 4) AS total FROM orders GROUP BY 1"
    ),
    "rollup_decade_avg": (
        "SELECT CAST(CAST(FLOOR(year(o_orderdate) / 10) * 10 AS INT) AS VARCHAR) "
        f"|| 's' AS decade, ROUND({davg_sql('o_totalprice')}, 4) AS avg_totalprice "
        "FROM orders GROUP BY 1"
    ),
    "dice_q4_avg_by_month": (
        f"{W_SQL} SELECT monthname(month_start) AS month_name, "
        "ROUND(AVG(pct), 6) AS avg_pct_change FROM w "
        "WHERE month(month_start) IN (10, 11, 12) AND pct IS NOT NULL GROUP BY 1"
    ),
    "scalar_max": (
        f"WITH m AS ({M_SQL}) SELECT ROUND(MAX(total), 4) AS max_total FROM m"
    ),
    "scalar_min": (
        f"WITH m AS ({M_SQL}) SELECT ROUND(MIN(total), 4) AS min_total FROM m"
    ),
    "argmax_argmin": (
        f"WITH m AS ({M_SQL}) SELECT "
        "(SELECT month_start FROM m ORDER BY total DESC, month_start LIMIT 1) "
        "AS peak_month, "
        "(SELECT month_start FROM m ORDER BY total ASC, month_start LIMIT 1) "
        "AS trough_month"
    ),
    "window_pct_change_global": (
        f"{W_SQL} SELECT month_start, total, ROUND(pct, 6) AS mom_pct_change FROM w"
    ),
    "window_pct_change_partitioned": (
        f"WITH m AS ({M_SQL}) SELECT month_start, total, "
        "ROUND((total - LAG(total) OVER "
        "(PARTITION BY year(month_start) ORDER BY month_start)) * 100.0 "
        "/ LAG(total) OVER "
        "(PARTITION BY year(month_start) ORDER BY month_start), 6) "
        "AS pct_in_year FROM m"
    ),
    "window_diff_on_agg": (
        "WITH y AS (SELECT CAST(year(o_orderdate) AS INT) AS year, "
        f"ROUND({dsum_sql('o_totalprice')}, 4) AS total FROM orders GROUP BY 1) "
        "SELECT year, total, "
        "ROUND(total - LAG(total) OVER (ORDER BY year), 4) AS annual_gain, "
        "ROUND((total - LAG(total) OVER (ORDER BY year)) * 100.0 "
        "/ LAG(total) OVER (ORDER BY year), 6) AS yoy_pct FROM y"
    ),
    "rollup_quarter_qoq": (
        "WITH q AS (SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "CAST(quarter(o_orderdate) AS INT) AS quarter, "
        f"ROUND({dsum_sql('o_totalprice')}, 4) AS total FROM orders GROUP BY 1, 2) "
        "SELECT year, quarter, total, "
        "ROUND((total - LAG(total) OVER (ORDER BY year, quarter)) * 100.0 "
        "/ LAG(total) OVER (ORDER BY year, quarter), 6) AS qoq_pct FROM q"
    ),
    "window_running_max": (
        f"{W_SQL} SELECT month_start, total, ROUND(prior_peak, 4) AS prior_peak "
        "FROM w"
    ),
    "sort_by_time": (
        f"WITH m AS ({M_SQL}) SELECT month_start, total, n_orders FROM m "
        "ORDER BY month_start"
    ),
    "limit_head": (
        "WITH q AS (SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "CAST(quarter(o_orderdate) AS INT) AS quarter, "
        f"ROUND({dsum_sql('o_totalprice')}, 4) AS total FROM orders GROUP BY 1, 2) "
        "SELECT year, quarter, total FROM q ORDER BY year, quarter LIMIT 5"
    ),
    "top1_by_metric": (
        "WITH y AS (SELECT CAST(year(o_orderdate) AS INT) AS year, "
        f"ROUND({dsum_sql('o_totalprice')}, 4) AS total FROM orders GROUP BY 1), "
        "g AS (SELECT year, total, "
        "ROUND(total - LAG(total) OVER (ORDER BY year), 4) AS annual_gain FROM y) "
        "SELECT year, total, annual_gain FROM g "
        "ORDER BY annual_gain DESC NULLS LAST, year LIMIT 1"
    ),
    "drill_sharpest_drop": (
        f"{W_SQL} SELECT month_start, monthname(month_start) AS month_name, "
        "ROUND(pct, 6) AS mom_pct_change FROM w WHERE pct IS NOT NULL "
        "ORDER BY pct ASC NULLS LAST, month_start LIMIT 1"
    ),
    "dice_recovery_asof": (
        f"{W_SQL}, d AS (SELECT month_start AS drop_month, pct, prior_peak "
        "FROM w WHERE pct < -2), r AS ("
        "SELECT d.drop_month, d.pct, d.prior_peak, "
        "MIN(CASE WHEN w.month_start > d.drop_month "
        "AND w.total >= d.prior_peak THEN w.month_start END) AS recovery_month "
        "FROM d CROSS JOIN w GROUP BY 1, 2, 3) "
        "SELECT drop_month, ROUND(pct, 6) AS drop_pct, "
        "ROUND(prior_peak, 4) AS prior_peak, recovery_month, "
        "CAST((year(recovery_month) - year(drop_month)) * 12 "
        "+ (month(recovery_month) - month(drop_month)) AS INT) "
        "AS months_to_recover FROM r"
    ),
    "lookup_scalar": (
        f"WITH m AS ({M_SQL}) SELECT month_start AS peak_month, "
        "total AS peak_total FROM m ORDER BY peak_total DESC, peak_month LIMIT 1"
    ),
}


# --- SCD Type-2 history build -------------------------------------------------------

SCD2_FAR_FUTURE = "2099-12-31 00:00:00"  # ns-safe sentinel (Arrow ts[ns] caps at 2262)
SCD2_FAR_PAST = "1900-01-01 00:00:00"  # version-1 lower bound (Kimball first-row convention)


def scd2_customer_priority_history(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """North-star — **slowly-changing-dimension Type-2 history build**
    (Kimball, *The Data Warehouse Toolkit* ch.5): collapse each
    customer's order stream into contiguous VALIDITY INTERVALS of their
    order priority — one row per (customer, priority run) with
    valid_from / valid_to / is_current — the standard
    change-data-capture materialization every warehouse maintains for
    point-in-time joins.

    The run detection is the gaps-and-islands device
    (`window_gaps_islands`): a change flag (priority ≠ lag) cumulative-
    sums into a run id inside the SAME (custkey, date, orderkey) window
    sort, so one exchange per customer produces the whole history.
    valid_to is the NEXT run's start (lead over runs) with a far-future
    sentinel for the open row — never NULL (NULL-sort trap, CLAUDE.md
    rule 2); timestamps emit as TIMESTAMP.

    Scale: one exchange by customer (windows + the run rollup share
    it); output is bounded by change count, not order count."""
    # Boundary-row algebra (round 14, the `_sessionize_events` device):
    # the cumsum window + run groupBy forced a second full-partition
    # WindowExec pass and a hash aggregate over every order. Instead,
    # ONE WindowExec hosts three independent frames (row_number, lag,
    # per-customer count), run-START rows are filtered (~change-bounded)
    # and the later lead()/row_number frames run over only those — the
    # filter preserves the window's partitioning AND (o_orderdate,
    # o_orderkey) ordering, so no re-exchange and no re-sort. A run's
    # valid_from is its start row's date (the run minimum by sort
    # order), its size is the next start's row_number minus its own,
    # and version is the start's index (one buffered window pass over
    # the orders instead of two, and no fact-scale hash aggregate).
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = orders.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderpriority",
        F.row_number().over(w).alias("rn"),
        F.lag("o_orderpriority").over(w).alias("prev_pri"),
        F.count(F.lit(1)).over(w_all).alias("total"),
    )
    starts = base.filter(
        F.col("prev_pri").isNull()
        | (F.col("prev_pri") != F.col("o_orderpriority"))
    )
    return starts.select(
        F.col("o_custkey").alias("custkey"),
        F.row_number().over(w).cast("int").alias("version"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(
            F.lead("o_orderdate").over(w),
            F.lit(SCD2_FAR_FUTURE).cast("timestamp"),
        ).alias("valid_to"),
        (
            F.coalesce(F.lead("rn").over(w), F.col("total") + F.lit(1))
            - F.col("rn")
        ).cast("long").alias("n_orders"),
        F.when(F.lead("rn").over(w).isNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_current"),
    ).orderBy("custkey", "version")


QUERIES["scd2_customer_priority_history"] = scd2_customer_priority_history

ORACLE["scd2_customer_priority_history"] = (
    "WITH f AS (SELECT o_custkey, o_orderdate, o_orderkey, "
    "o_orderpriority, "
    "CASE WHEN LAG(o_orderpriority) OVER "
    "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) "
    "IS DISTINCT FROM o_orderpriority THEN 1 ELSE 0 END AS chg "
    "FROM orders), "
    "r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority, "
    "SUM(chg) OVER (PARTITION BY o_custkey "
    "ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id "
    "FROM f), "
    "h AS (SELECT o_custkey, run_id, o_orderpriority, "
    "MIN(o_orderdate) AS valid_from, "
    "CAST(COUNT(*) AS BIGINT) AS n_orders "
    "FROM r GROUP BY 1, 2, 3) "
    "SELECT o_custkey AS custkey, CAST(run_id AS INT) AS version, "
    "o_orderpriority AS priority, valid_from, "
    "COALESCE(LEAD(valid_from) OVER "
    "(PARTITION BY o_custkey ORDER BY run_id), "
    f"TIMESTAMP '{SCD2_FAR_FUTURE}') AS valid_to, n_orders, "
    "CAST(CASE WHEN LEAD(valid_from) OVER "
    "(PARTITION BY o_custkey ORDER BY run_id) IS NULL "
    "THEN 1 ELSE 0 END AS INT) AS is_current "
    "FROM h ORDER BY custkey, version"
)


def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Point-in-time (temporal) join against the SCD2 history** — the
    consumer side of `scd2_customer_priority_history`, and the
    correctness discipline every feature store / training-data build
    lives or dies by: each lineitem is attributed to the priority
    regime its CUSTOMER was in WHEN THE ITEM SHIPPED (`valid_from <=
    l_shipdate < valid_to`), never to the current row — the classic
    leakage bug a plain dim join commits. Rolled up to (priority-at-
    ship, ship year) so the output is compact and fully hash-checked.

    Every ship date falls in EXACTLY one interval: version 1's
    validity extends back to the `SCD2_FAR_PAST` sentinel (the Kimball
    first-row convention), so the intervals partition the whole
    timeline and the join is fan-out-1 by construction — no silent
    drops even where the fixture ships items before their order date.
    Money via `dsum` 4 dp.

    Scale: the orderkey join is the TPC-H fact join (shuffles on
    integer keys, AQE-handled); the history side is bounded by CHANGE
    count, not order count, and joins customer-keyed with the range
    predicate applied as a post-filter on the ~runs-per-customer
    fan-out (never a cross product).

    vs reference: no analogue (the reference keeps no history);
    completes the repo's Kimball pair (build + point-in-time read)."""
    # Kimball convention: version 1's validity extends back to a low
    # sentinel, so rows timestamped BEFORE the first observed change
    # (this fixture ships ~half its lineitems before their order date)
    # attribute to the earliest known state instead of silently
    # dropping out of the inner join
    hist = scd2_customer_priority_history(spark, sf_dir).select(
        "custkey",
        F.col("priority").alias("priority_at_ship"),
        F.when(
            F.col("version") == 1,
            F.lit(SCD2_FAR_PAST).cast("timestamp"),
        )
        .otherwise(F.col("valid_from"))
        .alias("valid_from"),
        "valid_to",
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # size-gated broadcasts (the q8 gate, io.broadcastable): the 2-column
    # orders projection and the change-bounded history both derive from
    # the orders table, so one gate covers both. Below the gate the
    # whole query runs with ZERO fact-table shuffles (scan + two
    # broadcast probes + partial agg — round 14: 8.0 -> ~1.3 s at 30x);
    # past it the joins degrade to the shuffled forms AQE manages.
    from ..io import broadcastable

    if broadcastable(sf_dir, "orders"):
        o = F.broadcast(o)
        hist = F.broadcast(hist)
    fact = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_custkey", "l_shipdate", "l_extendedprice"
    )
    pit = fact.join(
        hist,
        (fact.o_custkey == hist.custkey)
        & (fact.l_shipdate >= hist.valid_from)
        & (fact.l_shipdate < hist.valid_to),
    )
    return (
        pit.groupBy(
            "priority_at_ship",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(dsum("l_extendedprice"), 4).alias("revenue"),
        )
        .orderBy("priority_at_ship", "ship_year")
    )


QUERIES["scd2_point_in_time_join"] = scd2_point_in_time_join

ORACLE["scd2_point_in_time_join"] = (
    "WITH f AS (SELECT o_custkey, o_orderdate, o_orderkey, "
    "o_orderpriority, "
    "CASE WHEN LAG(o_orderpriority) OVER "
    "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) "
    "IS DISTINCT FROM o_orderpriority THEN 1 ELSE 0 END AS chg "
    "FROM orders), "
    "r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority, "
    "SUM(chg) OVER (PARTITION BY o_custkey "
    "ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id "
    "FROM f), "
    "h AS (SELECT o_custkey, run_id, o_orderpriority, "
    "MIN(o_orderdate) AS valid_from FROM r GROUP BY 1, 2, 3), "
    "hist AS (SELECT o_custkey AS custkey, "
    "o_orderpriority AS priority_at_ship, "
    f"CASE WHEN run_id = 1 THEN TIMESTAMP '{SCD2_FAR_PAST}' "
    "ELSE valid_from END AS valid_from, "
    "COALESCE(LEAD(valid_from) OVER "
    "(PARTITION BY o_custkey ORDER BY run_id), "
    f"TIMESTAMP '{SCD2_FAR_FUTURE}') AS valid_to FROM h), "
    "fact AS (SELECT o.o_custkey, l.l_shipdate, l.l_extendedprice "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey) "
    "SELECT hist.priority_at_ship, "
    "CAST(year(fact.l_shipdate) AS INT) AS ship_year, "
    "CAST(COUNT(*) AS BIGINT) AS n_items, "
    "ROUND((CAST(SUM(CAST(ROUND(l_extendedprice * 10000) AS BIGINT)) "
    "AS DOUBLE) / 10000.0), 4) AS revenue "
    "FROM fact JOIN hist ON fact.o_custkey = hist.custkey "
    "AND fact.l_shipdate >= hist.valid_from "
    "AND fact.l_shipdate < hist.valid_to "
    "GROUP BY 1, 2 ORDER BY priority_at_ship, ship_year"
)
