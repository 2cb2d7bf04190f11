"""Analytics-breadth operators: percentiles, histograms, string functions,
null handling, and time-series gap filling.

These round out what a user of an OLAP engine reaches for weekly. Each is
a single declarative plan; the gap-fill operator is the one with a real
distributed design decision (spine generation via ``sequence``/``explode``
instead of a driver-side date loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numerics import descale, dround, dsum, dsum_sql
from ..functions.ranks import top_k
from ..functions.timeparts import (
    epoch_micros_from_ntz,
    monthly_partials,
    year_of,
)
from ..io import read_table


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per year — Spark
    ``percentile`` ≡ DuckDB ``quantile_cont`` (same linear interpolation
    over the sorted set, deterministic given identical inputs)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(year_of("o_orderdate").alias("year")).agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (``approx_percentile``) — the 100 TB path:
    bounded-memory KLL-style sketch, single pass, mergeable partials.
    Rows-only check (sketch error is engine-specific); the exact twin
    above is the anchor."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(year_of("o_orderdate").alias("year")).agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(1000)).alias(
            "median_approx"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


HIST_LO, HIST_STEP, HIST_BINS = 0.0, 50_000.0, 12


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via portable floor-binning (no engine-specific
    width_bucket): bin = clamp(floor((x - lo)/step), 0, bins-1)."""
    orders = read_table(spark, sf_dir, "orders")
    raw_bin = F.floor((F.col("o_totalprice") - HIST_LO) / HIST_STEP)
    bin_id = F.least(
        F.greatest(raw_bin, F.lit(0)), F.lit(HIST_BINS - 1)
    ).cast("int")
    return (
        orders.select(bin_id.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            F.round(F.lit(HIST_LO) + F.col("bin") * HIST_STEP, 1).alias("bin_lo"),
            "n",
        )
    )


def string_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family over customer names: case mapping, substring,
    concatenation, padding, reversal, regexp extraction, replacement —
    all codegen'd JVM expressions with DuckDB-identical semantics."""
    customer = read_table(spark, sf_dir, "customer")
    name = F.col("c_name")
    return customer.select(
        "c_custkey",
        F.upper(name).alias("upper_name"),
        F.lower(name).alias("lower_name"),
        F.substring(name, 1, 8).alias("prefix8"),
        F.length(name).alias("name_len"),
        F.concat_ws("|", name, F.col("c_mktsegment")).alias("tagged"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse(name).alias("reversed"),
        F.regexp_extract(name, r"(\d+)", 1).alias("digits"),
        F.replace(name, F.lit("Customer"), F.lit("Cust")).alias("replaced"),
    )


def null_handling_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling family: NULLIF to inject nulls, COALESCE / fill to
    repair them, null-aware counting. All per-row deterministic."""
    ev = read_table(spark, sf_dir, "events")
    v_null = F.nullif(F.col("event_type"), F.lit("error"))
    return (
        ev.select(
            "event_id",
            v_null.alias("type_or_null"),
            F.coalesce(v_null, F.lit("__repaired")).alias("type_repaired"),
            v_null.isNull().cast("int").alias("was_error"),
            F.nvl2(v_null, F.lit(0), F.lit(1)).alias("nvl2_flag"),
        )
    )


def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled monthly series with forward fill: generate the complete
    month spine with ``sequence``/``explode`` (distributed, no driver date
    loop), left-join the observed series, carry the last observation
    forward with ``last_value(ignoreNulls)``.

    The fixture series has no gaps, so the interesting part is exercised
    by dropping February observations first — the operator must
    reconstruct them from January.
    """
    m = (
        monthly_partials(read_table(spark, sf_dir, "orders"))
        .select("ms", descale("total_scaled").alias("total"))
    )
    # punch deterministic holes: drop all Februaries
    observed = m.filter(F.month("ms") != 2)
    bounds = m.agg(
        F.min("ms").alias("lo"), F.max("ms").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("month_start")
    )
    joined = spine.join(
        observed, spine.month_start == observed.ms, "left"
    ).select("month_start", "total")
    w = (
        Window.orderBy("month_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "month_start",
        "total",
        F.last("total", ignorenulls=True).over(w).alias("total_filled"),
        F.col("total").isNull().cast("int").alias("was_gap"),
    )


def timeseries_interpolate_linear(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear interpolation across series gaps — the forward-fill twin's
    smarter sibling: each missing month gets
    ``prev + (next - prev) * k / n`` where ``k``/``n`` are month offsets
    to the neighboring observations (one pass, two complementary
    unbounded window frames carrying the last/next observed value AND its
    timestamp; no self-join, no driver loop). Gaps are punched
    deterministically (drop Februaries, as in ``timeseries_gap_fill``)
    so there is something to reconstruct.

    Rounding is ``dround`` (binary ties-away, DuckDB-identical) — an
    interpolated midpoint of two 4-dp values is EXACTLY the half-way tie
    ``F.round``'s decimal rendering would resolve differently."""
    m = (
        monthly_partials(read_table(spark, sf_dir, "orders"))
        .select("ms", descale("total_scaled").alias("total"))
    )
    observed = m.filter(F.month("ms") != 2)
    bounds = m.agg(F.min("ms").alias("lo"), F.max("ms").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("month_start")
    )
    j = spine.join(
        observed, spine.month_start == observed.ms, "left"
    ).select("month_start", "total")
    wp = Window.orderBy("month_start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.orderBy("month_start").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    obs_ms = F.when(F.col("total").isNotNull(), F.col("month_start"))
    j2 = j.select(
        "month_start",
        "total",
        F.last("total", ignorenulls=True).over(wp).alias("pv"),
        F.first("total", ignorenulls=True).over(wn).alias("nv"),
        F.last(obs_ms, ignorenulls=True).over(wp).alias("pm"),
        F.first(obs_ms, ignorenulls=True).over(wn).alias("nm"),
    )
    k = F.months_between(F.col("month_start"), F.col("pm"))
    n = F.months_between(F.col("nm"), F.col("pm"))
    filled = (
        F.when(F.col("total").isNotNull(), F.col("total"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * k / n)
    )
    return j2.select(
        "month_start",
        F.col("total").alias("observed"),
        dround(filled, 4).alias("filled_total"),
        F.col("total").isNull().cast("int").alias("was_gap"),
    ).orderBy("month_start")


def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance of (quantity, discount) per return flag,
    computed from EXACT scaled-integer moment sums (Sx, Sy, Sxy, Sxx, Syy)
    so the result is order-independent — builtin ``corr``/``covar_pop``
    accumulate doubles and drift under parallel partial aggregation, which
    would break oracle hashing. Same single-pass moment-sketch shape every
    OLAP engine uses; the determinism comes from integer accumulation."""
    li = read_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_discount")

    def s(expr, scale):
        return F.sum(F.round(expr * scale).cast("long")) / float(scale)

    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        s(x, 100).alias("sx"),
        s(y, 10_000).alias("sy"),
        s(x * y, 100_000).alias("sxy"),
        s(x * x, 100).alias("sxx"),
        s(y * y, 100_000_000).alias("syy"),
    )
    n = F.col("n")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / n
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / n
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / n
    return m.select(
        "l_returnflag",
        "n",
        F.round(cov, 8).alias("covar_pop"),
        F.round(cov / F.sqrt(var_x * var_y), 6).alias("corr"),
    )


def window_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-frame window aggregates over the monthly series: trailing
    3-month moving average/min/max and first/last of the frame — the
    explicit ROWS-frame family (the reference only ever uses lag-1 and the
    running-peak frame). One sort, one WindowExec for all five functions."""
    m = (
        monthly_partials(read_table(spark, sf_dir, "orders"))
        .select("ms", descale("total_scaled").alias("total"))
    )
    w3 = Window.orderBy("ms").rowsBetween(-2, 0)
    return m.select(
        F.col("ms").alias("month_start"),
        "total",
        F.round(
            F.sum(F.round(F.col("total") * 10_000).cast("long")).over(w3)
            / 10_000.0
            / F.count(F.lit(1)).over(w3),
            4,
        ).alias("ma3"),
        F.round(F.min("total").over(w3), 4).alias("min3"),
        F.round(F.max("total").over(w3), 4).alias("max3"),
        F.round(F.first("total").over(w3), 4).alias("frame_first"),
    )


def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window family: ``percent_rank`` and ``cume_dist``
    of each order's value within its year — the relative-standing
    primitives (tie-stable: both are rank-based, so tied prices get equal
    values in any engine). One shuffle on the year partition key."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy(F.year("o_orderdate")).orderBy("o_totalprice")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("year"),
        dround(F.percent_rank().over(w), 6).alias("pct_rank"),
        dround(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional window family the pack lacked: ``first_value``,
    ``last_value`` and ``nth_value`` over the full partition frame — each
    month labeled with its year's opening, closing, and second-month
    totals. The window runs over the ~80-row monthly aggregate (per-year
    partitions), never the fact table; explicit unbounded ROWS frame so
    last/nth see the whole partition, not the default running frame."""
    m = (
        monthly_partials(read_table(spark, sf_dir, "orders"))
        .select("ms", descale("total_scaled").alias("total"))
    )
    w = (
        Window.partitionBy(F.year("ms"))
        .orderBy("ms")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return m.select(
        F.col("ms").alias("month_start"),
        "total",
        F.round(F.first("total").over(w), 4).alias("year_open"),
        F.round(F.last("total").over(w), 4).alias("year_close"),
        F.round(F.nth_value("total", 2).over(w), 4).alias("year_second"),
    )


def window_trailing_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window over event time — the frame family ROWS can't
    express: per day, the trailing-90-DAY order total (days with gaps
    contribute nothing; a ROWS frame would wrongly span a fixed row
    count). The range key is exact epoch days (integer), so frame
    membership is identical in both engines; the window runs over the
    ~2.4k-row DAILY aggregate, not the fact table."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.round(dsum("o_totalprice"), 4).alias("total"))
    )
    # F.floor (not a bare cast-to-long) so negative epochs floor like the
    # oracle's `epoch // 86400` — a cast truncates toward zero, shifting
    # frame membership by one day for pre-1970 timestamps.
    keyed = daily.withColumn(
        "day_num",
        F.floor(
            epoch_micros_from_ntz(F.col("day")) / 86_400_000_000
        ).cast("long"),
    )
    w = Window.orderBy("day_num").rangeBetween(-89, 0)
    return keyed.select(
        F.col("day").alias("day_start"),
        "total",
        F.round(
            F.sum(F.round(F.col("total") * 10_000).cast("long")).over(w)
            / 10_000.0,
            4,
        ).alias("trailing_90d_total"),
        F.count(F.lit(1)).over(w).alias("days_with_orders_90d"),
    )


def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-year MODE of order priority — built as count + rank with a
    total tiebreak (most-frequent value, ties to the lexicographically
    smallest) instead of the engines' ``mode()`` aggregates, whose tie
    choice is implementation-defined and would flip between engines."""
    orders = read_table(spark, sf_dir, "orders")
    counts = orders.groupBy(
        F.year("o_orderdate").alias("year"), "o_orderpriority"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        top_k(counts, "year", 1, F.col("n").desc(), "o_orderpriority")
        .select(
            F.col("year").cast("int").alias("year"),
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("year")
    )


def dq_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly months: |total - mean| > 2σ over the monthly
    series. Two tiny aggregates (mean via scaled-int davg; sample
    variance from scaled-int sums of squared deviations — deviations are
    ≤1e8 so the squares stay inside int64 at scale 1), the 1-row stats
    broadcast back via cross join, and a pure-projection z computed from
    bitwise-identical doubles in both engines."""
    # round 15: the tiny monthly frame feeds the mean, the variance
    # pass AND the final z projection — eager checkpoint or each
    # reference re-runs the orders aggregate (rule 5; measured 3 fact
    # scans)
    m = (
        monthly_partials(read_table(spark, sf_dir, "orders"))
        .select("ms", descale("total_scaled").alias("total"))
        .localCheckpoint(eager=True)
    )
    stats0 = m.agg(
        (F.sum(F.round(F.col("total") * 100).cast("long")) / 100.0 / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    with_mu = m.crossJoin(F.broadcast(stats0))
    dev2 = (F.col("total") - F.col("mu")) * (F.col("total") - F.col("mu"))
    stats = with_mu.groupBy("mu", "n").agg(
        (
            F.sum(F.when(dev2 >= 0, F.floor(dev2 + 0.5)).otherwise(F.lit(0).cast("long")))
            / (F.col("n") - 1)
        ).alias("var")
    )
    z = (F.col("total") - F.col("mu")) / F.sqrt(F.col("var"))
    return (
        m.crossJoin(F.broadcast(stats))
        .select(
            F.col("ms").alias("month_start"),
            "total",
            dround(z, 6).alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > 2.0)
        .orderBy("month_start")
    )


def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit — the DQ check every warehouse load gates
    on: count fact rows whose dimension key is missing. Violations are
    planted deterministically by trimming each dim side (drop every 7th
    customer / every 11th order) so the check has something to find.
    Each check is ONE left join + conditional count (never a per-row
    lookup); at 100 TB the missing-key probe rides the same broadcast /
    bitmap prefilter machinery as the semi-joins
    (joins.join_bitmap_prefiltered)."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    cust_ok = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 != 0)
        .select("c_custkey")
    )
    orders_ok = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("ok_orderkey")
    )

    def check(fact, fk, dim, dk, name):
        j = fact.join(dim, F.col(fk) == F.col(dk), "left")
        viol = F.sum(F.col(dk).isNull().cast("long"))
        return j.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_checked"),
            viol.alias("n_violations"),
            F.round(
                viol.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("violation_rate"),
        )

    return (
        check(orders, "o_custkey", cust_ok, "c_custkey", "orders_customer_fk")
        .unionByName(
            check(li, "l_orderkey", orders_ok, "ok_orderkey", "lineitem_orders_fk")
        )
        .orderBy("check_name")
    )


def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (lower) median per year: smallest price whose cumulative
    weight reaches half the year's total — the weighted-quantile
    primitive built-in ``percentile`` lacks a portable weighted form of.
    Weights are a deterministic integer projection (``1 + key % 5``) so
    every comparison is integer-exact. One shuffle: both windows (running
    weight and per-year total) share the year partition key, so Catalyst
    plans a single exchange + sort; the threshold pick is then a plain
    filter + min — no second pass over the data."""
    orders = read_table(spark, sf_dir, "orders")
    d = orders.select(
        year_of("o_orderdate").alias("year"),
        F.col("o_totalprice").alias("price"),
        "o_orderkey",
        (F.lit(1) + F.col("o_orderkey") % 5).alias("wgt"),
    )
    wcum = (
        Window.partitionBy("year")
        .orderBy("price", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("year")
    c = d.select(
        "year",
        "price",
        F.sum("wgt").over(wcum).alias("cw"),
        F.sum("wgt").over(wtot).alias("tw"),
    )
    return (
        c.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("year")
        .agg(
            F.max("tw").alias("total_weight"),
            F.round(F.min("price"), 4).alias("weighted_median"),
        )
        .orderBy("year")
    )


# dq_anomaly_zscore leads: registry merge order puts it at sample slot 50
# in the round-5 rotation (see registry._MODULES).
QUERIES = {
    "dq_anomaly_zscore": dq_anomaly_zscore,
    "window_distribution_ranks": window_distribution_ranks,
    "window_first_last_nth": window_first_last_nth,
    "window_trailing_range_frame": window_trailing_range_frame,
    "agg_mode_deterministic": agg_mode_deterministic,
    "agg_percentiles": agg_percentiles,
    "agg_corr_covar": agg_corr_covar,
    "window_moving_stats": window_moving_stats,
    "agg_approx_percentiles": agg_approx_percentiles,
    "agg_histogram": agg_histogram,
    "string_functions_showcase": string_functions_showcase,
    "null_handling_showcase": null_handling_showcase,
    "timeseries_gap_fill": timeseries_gap_fill,
    "timeseries_interpolate_linear": timeseries_interpolate_linear,
    "dq_referential_integrity": dq_referential_integrity,
    "agg_weighted_percentile": agg_weighted_percentile,
}

_MOMENTS = (
    "SELECT l_returnflag, COUNT(*) AS n, "
    "CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 "
    "AS sx, "
    "CAST(SUM(CAST(ROUND(l_discount * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 "
    "AS sy, "
    "CAST(SUM(CAST(ROUND(l_quantity * l_discount * 100000) AS BIGINT)) "
    "AS DOUBLE) / 100000.0 AS sxy, "
    "CAST(SUM(CAST(ROUND(l_quantity * l_quantity * 100) AS BIGINT)) "
    "AS DOUBLE) / 100.0 AS sxx, "
    "CAST(SUM(CAST(ROUND(l_discount * l_discount * 100000000) AS BIGINT)) "
    "AS DOUBLE) / 100000000.0 AS syy "
    "FROM lineitem GROUP BY 1"
)

_M3 = (
    "SELECT date_trunc('month', o_orderdate) AS ms, "
    f"ROUND({dsum_sql('o_totalprice')}, 4) AS total FROM orders GROUP BY 1"
)

ORACLE = {
    "dq_anomaly_zscore": (
        f"WITH m AS ({_M3.replace(' AS ms', ' AS month_start')}), "
        "s0 AS (SELECT CAST(SUM(CAST(ROUND(total * 100) AS BIGINT)) "
        "AS DOUBLE) / 100.0 / COUNT(*) AS mu, COUNT(*) AS n FROM m), "
        "s AS (SELECT mu, n, "
        "CAST(SUM(CAST(FLOOR((total - mu) * (total - mu) + 0.5) "
        "AS BIGINT)) AS DOUBLE) / (n - 1) AS var "
        "FROM m, s0 GROUP BY mu, n) "
        "SELECT month_start, total, "
        "ROUND((total - mu) / sqrt(var), 6) AS zscore "
        "FROM m, s WHERE ABS(ROUND((total - mu) / sqrt(var), 6)) > 2.0 "
        "ORDER BY 1"
    ),
    "window_trailing_range_frame": (
        "WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, "
        "ROUND((CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) "
        "AS DOUBLE) / 10000.0), 4) AS total FROM orders GROUP BY 1), "
        "k AS (SELECT day, total, "
        "CAST(epoch(CAST(day AS TIMESTAMP)) // 86400 AS BIGINT) AS day_num "
        "FROM d) "
        "SELECT day AS day_start, total, "
        "ROUND(CAST(SUM(CAST(ROUND(total * 10000) AS BIGINT)) OVER w "
        "AS DOUBLE) / 10000.0, 4) AS trailing_90d_total, "
        "COUNT(*) OVER w AS days_with_orders_90d "
        "FROM k WINDOW w AS (ORDER BY day_num "
        "RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)"
    ),
    "agg_mode_deterministic": (
        "WITH c AS (SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1, 2), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY year "
        "ORDER BY n DESC, o_orderpriority) AS rn FROM c) "
        "SELECT year, o_orderpriority AS mode_priority, n AS mode_count "
        "FROM r WHERE rn = 1 ORDER BY year"
    ),
    "window_first_last_nth": (
        f"WITH m AS ({_M3}) "
        "SELECT ms AS month_start, total, "
        "ROUND(first_value(total) OVER w, 4) AS year_open, "
        "ROUND(last_value(total) OVER w, 4) AS year_close, "
        "ROUND(nth_value(total, 2) OVER w, 4) AS year_second "
        "FROM m WINDOW w AS (PARTITION BY year(ms) ORDER BY ms "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    ),
    "window_moving_stats": (
        f"WITH m AS ({_M3}) "
        "SELECT ms AS month_start, total, "
        "ROUND(CAST(SUM(CAST(ROUND(total * 10000) AS BIGINT)) OVER w "
        "AS DOUBLE) / 10000.0 / COUNT(*) OVER w, 4) AS ma3, "
        "ROUND(MIN(total) OVER w, 4) AS min3, "
        "ROUND(MAX(total) OVER w, 4) AS max3, "
        "ROUND(FIRST_VALUE(total) OVER w, 4) AS frame_first "
        "FROM m WINDOW w AS (ORDER BY ms "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    ),
    "agg_corr_covar": (
        f"WITH m AS ({_MOMENTS}) "
        "SELECT l_returnflag, n, "
        "ROUND((sxy - sx * sy / n) / n, 8) AS covar_pop, "
        "ROUND(((sxy - sx * sy / n) / n) / "
        "sqrt(((sxx - sx * sx / n) / n) * ((syy - sy * sy / n) / n)), 6) "
        "AS corr FROM m"
    ),
    "agg_percentiles": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price, "
        "ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price, "
        "COUNT(*) AS n_orders FROM orders GROUP BY 1"
    ),
    # agg_approx_percentiles: rows-only (sketch).
    "agg_histogram": (
        f"SELECT CAST(LEAST(GREATEST(FLOOR((o_totalprice - {HIST_LO}) "
        f"/ {HIST_STEP}), 0), {HIST_BINS - 1}) AS INT) AS bin, "
        f"ROUND({HIST_LO} + CAST(LEAST(GREATEST(FLOOR((o_totalprice - {HIST_LO}) "
        f"/ {HIST_STEP}), 0), {HIST_BINS - 1}) AS INT) * {HIST_STEP}, 1) "
        "AS bin_lo, COUNT(*) AS n FROM orders GROUP BY 1, 2"
    ),
    "string_functions_showcase": (
        "SELECT c_custkey, upper(c_name) AS upper_name, "
        "lower(c_name) AS lower_name, substr(c_name, 1, 8) AS prefix8, "
        "CAST(length(c_name) AS INT) AS name_len, "
        "concat_ws('|', c_name, c_mktsegment) AS tagged, "
        "lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key, "
        "reverse(c_name) AS reversed, "
        "regexp_extract(c_name, '(\\d+)', 1) AS digits, "
        "replace(c_name, 'Customer', 'Cust') AS replaced FROM customer"
    ),
    "null_handling_showcase": (
        "SELECT event_id, NULLIF(event_type, 'error') AS type_or_null, "
        "COALESCE(NULLIF(event_type, 'error'), '__repaired') AS type_repaired, "
        "CASE WHEN NULLIF(event_type, 'error') IS NULL THEN 1 ELSE 0 END "
        "AS was_error, "
        "CASE WHEN NULLIF(event_type, 'error') IS NOT NULL THEN 0 ELSE 1 END "
        "AS nvl2_flag FROM events"
    ),
    "window_distribution_ranks": (
        "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS year, "
        "ROUND(percent_rank() OVER (PARTITION BY year(o_orderdate) "
        "ORDER BY o_totalprice), 6) AS pct_rank, "
        "ROUND(cume_dist() OVER (PARTITION BY year(o_orderdate) "
        "ORDER BY o_totalprice), 6) AS cume_dist "
        "FROM orders"
    ),
    "timeseries_gap_fill": (
        f"WITH m AS ({_M3}), "
        "obs AS (SELECT * FROM m WHERE month(ms) != 2), "
        "b AS (SELECT MIN(ms) AS lo, MAX(ms) AS hi FROM m), "
        "spine AS (SELECT unnest(generate_series(lo, hi, "
        "INTERVAL 1 MONTH)) AS month_start FROM b) "
        "SELECT s.month_start, o.total, "
        "LAST_VALUE(o.total IGNORE NULLS) OVER (ORDER BY s.month_start "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_filled, "
        "CASE WHEN o.total IS NULL THEN 1 ELSE 0 END AS was_gap "
        "FROM spine s LEFT JOIN obs o ON s.month_start = o.ms"
    ),
    "timeseries_interpolate_linear": (
        f"WITH m AS ({_M3}), "
        "obs AS (SELECT * FROM m WHERE month(ms) != 2), "
        "b AS (SELECT MIN(ms) AS lo, MAX(ms) AS hi FROM m), "
        "spine AS (SELECT unnest(generate_series(lo, hi, "
        "INTERVAL 1 MONTH)) AS month_start FROM b), "
        "j AS (SELECT s.month_start, o.total "
        "FROM spine s LEFT JOIN obs o ON s.month_start = o.ms), "
        "w AS (SELECT month_start, total, "
        "LAST_VALUE(total IGNORE NULLS) OVER wp AS pv, "
        "FIRST_VALUE(total IGNORE NULLS) OVER wn AS nv, "
        "LAST_VALUE(CASE WHEN total IS NOT NULL THEN month_start END "
        "IGNORE NULLS) OVER wp AS pm, "
        "FIRST_VALUE(CASE WHEN total IS NOT NULL THEN month_start END "
        "IGNORE NULLS) OVER wn AS nm FROM j "
        "WINDOW wp AS (ORDER BY month_start ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW), "
        "wn AS (ORDER BY month_start ROWS BETWEEN CURRENT ROW AND "
        "UNBOUNDED FOLLOWING)) "
        "SELECT month_start, total AS observed, "
        "ROUND(CASE WHEN total IS NOT NULL THEN total "
        "WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv "
        "ELSE pv + (nv - pv) * "
        "CAST(date_diff('month', pm, month_start) AS DOUBLE) / "
        "CAST(date_diff('month', pm, nm) AS DOUBLE) END, 4) "
        "AS filled_total, "
        "CASE WHEN total IS NULL THEN 1 ELSE 0 END AS was_gap "
        "FROM w ORDER BY month_start"
    ),
    "dq_referential_integrity": (
        "SELECT 'orders_customer_fk' AS check_name, "
        "COUNT(*) AS n_checked, "
        "CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_violations, "
        "ROUND(CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) "
        "AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS violation_rate "
        "FROM orders o LEFT JOIN (SELECT c_custkey FROM customer "
        "WHERE c_custkey % 7 <> 0) c ON o.o_custkey = c.c_custkey "
        "UNION ALL "
        "SELECT 'lineitem_orders_fk', COUNT(*), "
        "CAST(SUM(CASE WHEN k.ok_orderkey IS NULL THEN 1 ELSE 0 END) "
        "AS BIGINT), "
        "ROUND(CAST(SUM(CASE WHEN k.ok_orderkey IS NULL THEN 1 ELSE 0 END) "
        "AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) "
        "FROM lineitem l LEFT JOIN (SELECT o_orderkey AS ok_orderkey "
        "FROM orders WHERE o_orderkey % 11 <> 0) k "
        "ON l.l_orderkey = k.ok_orderkey "
        "ORDER BY check_name"
    ),
    "agg_weighted_percentile": (
        "WITH d AS (SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "o_totalprice AS price, o_orderkey, "
        "1 + o_orderkey % 5 AS wgt FROM orders), "
        "c AS (SELECT year, price, "
        "SUM(wgt) OVER (PARTITION BY year ORDER BY price, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, "
        "SUM(wgt) OVER (PARTITION BY year) AS tw FROM d) "
        "SELECT year, CAST(MAX(tw) AS BIGINT) AS total_weight, "
        "ROUND(MIN(price), 4) AS weighted_median "
        "FROM c WHERE 2 * cw >= tw GROUP BY 1 ORDER BY 1"
    ),
}


# ---------------------------------------------------------------------------
# Family modules (round-14 split of this 10k-line file): the statistical
# battery, time-series, event-stream, and window families live in sibling
# modules; this module stays the single registry- and import-facing surface
# (registry._MODULES merge order, `from .analytics import X` in tests and
# layout/stateful) by merging their QUERIES/ORACLE and re-exporting their
# public and helper names.
from . import analytics_events as _fam_events  # noqa: E402
from . import analytics_stats as _fam_stats  # noqa: E402
from . import analytics_timeseries as _fam_timeseries  # noqa: E402
from . import analytics_windows as _fam_windows  # noqa: E402

_FAM_NAME_OWNER: dict[str, str] = {}
for _fam in (_fam_stats, _fam_timeseries, _fam_events, _fam_windows):
    _dup = set(QUERIES) & set(_fam.QUERIES)
    if _dup:
        raise ValueError(f"duplicate analytics keys: {_dup}")
    QUERIES.update(_fam.QUERIES)
    ORACLE.update(_fam.ORACLE)
    for _k, _v in vars(_fam).items():
        # re-export everything (incl. _helpers and CONSTANTS) so existing
        # `from .analytics import X` sites keep resolving; setdefault so
        # this module's own names win on collision. Cross-FAMILY
        # collisions with differing objects raise (mirrors the
        # duplicate-QUERIES-key guard): otherwise `from .analytics
        # import X` would silently resolve to whichever family merges
        # first. Imported-module / identical objects (shared F, Window,
        # numerics helpers) are fine.
        if _k.startswith("__") or _k in ("QUERIES", "ORACLE"):
            continue
        if _k in _FAM_NAME_OWNER and globals().get(_k) is not _v:
            raise ValueError(
                f"analytics family name collision: {_k!r} defined with "
                f"different objects in {_FAM_NAME_OWNER[_k]} and "
                f"{_fam.__name__}"
            )
        _FAM_NAME_OWNER.setdefault(_k, _fam.__name__)
        globals().setdefault(_k, _v)
del _fam, _k, _v, _dup, _FAM_NAME_OWNER
