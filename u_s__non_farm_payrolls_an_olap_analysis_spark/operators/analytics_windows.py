"""Window-function analytics: drawdowns, rolling fits, shares, YTD
comparisons (split out of ``analytics.py`` in round 14; keys and
semantics unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numerics import (
    d38,
    davg,
    davg_sql,
    dround,
    dsum,
    dsum_scaled,
)
from ..functions.timeparts import monthly_revenue, year_of
from ..io import read_table

QUERIES: dict = {}
ORACLE: dict = {}



# --- Gaps-and-islands: consecutive growth streaks ----------------------------

STREAK_MIN = 2  # report islands of >= 2 consecutive up-months


def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic **gaps-and-islands**: maximal runs of consecutive months
    with month-over-month revenue GROWTH per priority, via the canonical
    row_number-difference device (rn over all months minus rn over
    up-months is constant within an island). The OLAP twin of the
    reference's MoM growth question (`dashboard_nfp.py` "which months
    grew?") asked at streak granularity — "how LONG did growth runs
    last, and how much did each run add?".

    Determinism: the series is scaled int64 (`dsum_scaled`); the up flag
    compares exact integers; island keys are integer differences; gains
    are exact integer sums descaled once (`dround` 4 dp). First month of
    each series has no base month and is never an up-month in either
    engine (NULL base filtered identically). Island starts are unique
    per priority, so ORDER BY (priority, streak_start) is total.

    Scale: one corpus-sized shuffle for the monthly rollup, then two
    stacked windows over the SAME (priority, mon) sort — one exchange,
    one sort (CLAUDE.md rule 5: later frames order by the original key,
    never a derived alias)."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    w = Window.partitionBy("priority").orderBy("mon")
    flagged = m.select(
        "priority",
        "mon",
        "rev_s",
        F.lag("rev_s").over(w).alias("base"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("base").isNotNull() & (F.col("rev_s") > F.col("base")))
    w_up = Window.partitionBy("priority").orderBy("mon")
    grouped = flagged.select(
        "priority",
        "mon",
        (F.col("rev_s") - F.col("base")).alias("gain_s"),
        (F.col("rn") - F.row_number().over(w_up)).alias("grp"),
    )
    return (
        grouped.groupBy("priority", "grp")
        .agg(
            F.min("mon").alias("streak_start"),
            F.max("mon").alias("streak_end"),
            F.count(F.lit(1)).alias("months_up"),
            F.sum("gain_s").alias("gain_sum"),
        )
        .filter(F.col("months_up") >= STREAK_MIN)
        .select(
            "priority",
            "streak_start",
            "streak_end",
            F.col("months_up").cast("int").alias("months_up"),
            F.round(F.col("gain_sum") / 10_000.0, 4).alias("total_gain"),
        )
        .orderBy("priority", "streak_start")
    )


QUERIES["window_gaps_islands"] = window_gaps_islands

ORACLE["window_gaps_islands"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "f AS (SELECT priority, mon, rev_s, "
    "LAG(rev_s) OVER (PARTITION BY priority ORDER BY mon) AS base, "
    "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) AS rn "
    "FROM m), "
    "u AS (SELECT priority, mon, rev_s - base AS gain_s, "
    "rn - ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) AS grp "
    "FROM f WHERE base IS NOT NULL AND rev_s > base), "
    "g AS (SELECT priority, grp, MIN(mon) AS streak_start, "
    "MAX(mon) AS streak_end, CAST(COUNT(*) AS BIGINT) AS months_up, "
    "CAST(SUM(gain_s) AS BIGINT) AS gain_sum FROM u GROUP BY 1, 2) "
    "SELECT priority, streak_start, streak_end, "
    "CAST(months_up AS INT) AS months_up, "
    "ROUND(CAST(gain_sum AS DOUBLE) / 10000.0, 4) AS total_gain "
    f"FROM g WHERE months_up >= {STREAK_MIN} "
    "ORDER BY priority, streak_start"
)


# --- Ratio-to-report: share of total within a group ---------------------------


def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Ratio-to-report** (Oracle's RATIO_TO_REPORT, the classic BI
    "percent of total" column): each priority's share of its YEAR's
    revenue, plus its rank within the year — the one distribution
    window shape the rank family (`window_distribution_ranks`) didn't
    cover: a windowed SUM used as a denominator.

    Determinism: the numerator and the windowed denominator are the
    SAME exact scaled-int64 aggregate (`dsum_scaled`), so the share is
    one double division of exact integers per (year, priority) row,
    `dround`ed at 6 dp; rank breaks ties by priority (total order).

    Scale: one corpus-sized shuffle for the (year, priority) rollup;
    the share window runs over the ~35-row aggregate partitioned by
    year — the denominator never recomputes the fact scan."""
    orders = read_table(spark, sf_dir, "orders")
    per = orders.groupBy(
        year_of("o_orderdate").alias("year"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(dsum_scaled("o_totalprice").alias("rev_s"))
    w_year = Window.partitionBy("year")
    w_rank = Window.partitionBy("year").orderBy(
        F.col("rev_s").desc(), "priority"
    )
    return per.select(
        "year",
        "priority",
        F.round(F.col("rev_s") / 10_000.0, 4).alias("revenue"),
        dround(
            F.col("rev_s").cast("double")
            / F.sum("rev_s").over(w_year).cast("double"),
            6,
        ).alias("share_of_year"),
        F.row_number().over(w_rank).cast("int").alias("rank_in_year"),
    ).orderBy("year", "priority")


QUERIES["window_share_of_total"] = window_share_of_total

ORACLE["window_share_of_total"] = (
    "WITH per AS (SELECT CAST(year(o_orderdate) AS INT) AS year, "
    "o_orderpriority AS priority, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2) "
    "SELECT year, priority, "
    "ROUND(CAST(rev_s AS DOUBLE) / 10000.0, 4) AS revenue, "
    "ROUND(CAST(rev_s AS DOUBLE) / CAST(SUM(rev_s) "
    "OVER (PARTITION BY year) AS DOUBLE), 6) AS share_of_year, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY year "
    "ORDER BY rev_s DESC, priority) AS INT) AS rank_in_year "
    "FROM per ORDER BY year, priority"
)


# --- Bollinger bands: rolling mean ± 2 rolling sd --------------------------------

BB_W = 6  # trailing window length (months)


def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Bollinger bands** (Bollinger 1992) over the monthly
    per-priority revenue: trailing 6-month mean ± 2 rolling standard
    deviations, plus an outside-the-bands flag — the volatility-
    normalized envelope `window_moving_stats`' plain min/max frame
    doesn't give (a breakout beyond 2σ is signal; beyond a fixed range
    is not), and the windowed sibling of `dq_anomaly_zscore`'s global
    z-score.

    Determinism: the series is scaled int64; the rolling second moment
    is exact per frame — M2 = w·Σv² − (Σv)² with Σv² in DECIMAL(38,0)
    ≡ HUGEINT (v² ~ 1e24 at sf0.1) and the frame width w a count
    window over the SAME frame — so sd = √M2/w is one IEEE sqrt of
    exact integers, and the band edges are fixed-shape arithmetic,
    `dround`ed at 4 dp. The outside flag compares exact ints to the
    rounded band (computed identically in both engines).

    Scale: one corpus-sized monthly rollup; one window exchange+sort
    per priority serves all five frame aggregates (same WindowSpec →
    single WindowExec)."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    w6 = (
        Window.partitionBy("priority")
        .orderBy("mon")
        .rowsBetween(-(BB_W - 1), 0)
    )
    framed = m.select(
        "priority",
        "mon",
        "rev_s",
        F.count(F.lit(1)).over(w6).alias("w"),
        F.sum("rev_s").over(w6).alias("s1"),
        F.sum(F.col("rev_s").cast("decimal(38,0)") * F.col("rev_s"))
        .over(w6)
        .alias("s2"),
    )
    m2 = (
        F.col("w").cast("decimal(38,0)") * F.col("s2")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    )
    w_d = F.col("w").cast("double")
    mid = F.col("s1").cast("double") / (w_d * F.lit(10_000.0))
    sd = F.sqrt(m2.cast("double")) / (w_d * F.lit(10_000.0))
    upper = mid + F.lit(2.0) * sd
    lower = mid - F.lit(2.0) * sd
    rev_d = F.col("rev_s").cast("double") / F.lit(10_000.0)
    return framed.select(
        "priority",
        "mon",
        F.round(F.col("rev_s") / 10_000.0, 4).alias("revenue"),
        dround(mid, 4).alias("mid"),
        dround(upper, 4).alias("upper_band"),
        dround(lower, 4).alias("lower_band"),
        F.when((rev_d > upper) | (rev_d < lower), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("outside"),
    ).orderBy("priority", "mon")


QUERIES["window_bollinger_bands"] = window_bollinger_bands

ORACLE["window_bollinger_bands"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "f AS (SELECT priority, mon, rev_s, "
    "CAST(COUNT(*) OVER w AS BIGINT) AS w, "
    "CAST(SUM(rev_s) OVER w AS BIGINT) AS s1, "
    "CAST(SUM(CAST(rev_s AS HUGEINT) * rev_s) OVER w AS HUGEINT) AS s2 "
    "FROM m WINDOW w AS (PARTITION BY priority ORDER BY mon "
    f"ROWS BETWEEN {BB_W - 1} PRECEDING AND CURRENT ROW)) "
    "SELECT priority, mon, "
    "ROUND(CAST(rev_s AS DOUBLE) / 10000.0, 4) AS revenue, "
    "ROUND(CAST(s1 AS DOUBLE) / (CAST(w AS DOUBLE) * 10000.0), 4) "
    "AS mid, "
    "ROUND(CAST(s1 AS DOUBLE) / (CAST(w AS DOUBLE) * 10000.0) "
    "+ 2.0 * (sqrt(CAST(CAST(w AS HUGEINT) * s2 "
    "- CAST(s1 AS HUGEINT) * s1 AS DOUBLE)) "
    "/ (CAST(w AS DOUBLE) * 10000.0)), 4) AS upper_band, "
    "ROUND(CAST(s1 AS DOUBLE) / (CAST(w AS DOUBLE) * 10000.0) "
    "- 2.0 * (sqrt(CAST(CAST(w AS HUGEINT) * s2 "
    "- CAST(s1 AS HUGEINT) * s1 AS DOUBLE)) "
    "/ (CAST(w AS DOUBLE) * 10000.0)), 4) AS lower_band, "
    "CAST(CASE WHEN CAST(rev_s AS DOUBLE) / 10000.0 "
    "> CAST(s1 AS DOUBLE) / (CAST(w AS DOUBLE) * 10000.0) "
    "+ 2.0 * (sqrt(CAST(CAST(w AS HUGEINT) * s2 "
    "- CAST(s1 AS HUGEINT) * s1 AS DOUBLE)) "
    "/ (CAST(w AS DOUBLE) * 10000.0)) "
    "OR CAST(rev_s AS DOUBLE) / 10000.0 "
    "< CAST(s1 AS DOUBLE) / (CAST(w AS DOUBLE) * 10000.0) "
    "- 2.0 * (sqrt(CAST(CAST(w AS HUGEINT) * s2 "
    "- CAST(s1 AS HUGEINT) * s1 AS DOUBLE)) "
    "/ (CAST(w AS DOUBLE) * 10000.0)) "
    "THEN 1 ELSE 0 END AS INT) AS outside "
    "FROM f ORDER BY priority, mon"
)


# --- Distribution-rank windows: cume_dist / percent_rank / ntile ------------------


def window_cume_dist_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Distribution-rank window trio** — ``ntile(10)`` decile buckets
    with ``cume_dist``/``percent_rank`` boundary values, per order
    priority: the window functions an analyst reaches for to bucket a
    population by rank (the windowed complement of `agg_percentiles`'
    value-space quantiles).

    Determinism: ``ntile`` assigns by ROW POSITION, so its ORDER BY
    carries the unique o_orderkey tiebreaker (a ties-only ordering
    would be engine-nondeterministic); ``cume_dist``/``percent_rank``
    are tie-safe BY DEFINITION (all peers share a value) and order by
    price alone — both facts the docstring of record for this engine.
    The decile summary emits each bucket's size, exact money bounds and
    the bucket-max of the two rank ratios (single divisions of exact
    rank integers, `dround` 6).

    Scale: one partition-local sort per priority (priority is the
    partition key — no global sort), then a 50-row rollup."""
    orders = read_table(spark, sf_dir, "orders")
    w_pos = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    w_val = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    ranked = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("price"),
        F.ntile(10).over(w_pos).alias("decile"),
        F.cume_dist().over(w_val).alias("cd"),
        F.percent_rank().over(w_val).alias("pr"),
    )
    return (
        ranked.groupBy("priority", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("price"), 4).alias("lo_price"),
            F.round(F.max("price"), 4).alias("hi_price"),
            dround(F.max("cd"), 6).alias("cume_dist_hi"),
            dround(F.max("pr"), 6).alias("pct_rank_hi"),
        )
        .orderBy("priority", "decile")
    )


QUERIES["window_cume_dist_deciles"] = window_cume_dist_deciles

ORACLE["window_cume_dist_deciles"] = (
    "WITH r AS (SELECT o_orderpriority AS priority, "
    "o_totalprice AS price, "
    "NTILE(10) OVER (PARTITION BY o_orderpriority "
    "ORDER BY o_totalprice, o_orderkey) AS decile, "
    "CUME_DIST() OVER (PARTITION BY o_orderpriority "
    "ORDER BY o_totalprice) AS cd, "
    "PERCENT_RANK() OVER (PARTITION BY o_orderpriority "
    "ORDER BY o_totalprice) AS pr FROM orders) "
    "SELECT priority, CAST(decile AS INT) AS decile, "
    "CAST(COUNT(*) AS BIGINT) AS n_orders, "
    "ROUND(MIN(price), 4) AS lo_price, ROUND(MAX(price), 4) AS hi_price, "
    "ROUND(MAX(cd), 6) AS cume_dist_hi, "
    "ROUND(MAX(pr), 6) AS pct_rank_hi "
    "FROM r GROUP BY 1, 2 ORDER BY 1, 2"
)


# --- Maximum drawdown of the monthly revenue series ---------------------------------


def window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Maximum drawdown** per priority of the monthly revenue series —
    the worst peak-to-trough decline relative to the running peak (the
    risk metric quants read off any level series; Magdon-Ismail & Atiya
    2004 formalize it): dd_t = (peak_t − y_t)/peak_t with
    peak_t = running max. The summary layer over
    `window_running_max`'s per-row prior-peak frame.

    Exactness: revenue and running peak are exact scaled ints; each
    month's dd is one division of exact ints, computed identically in
    both engines, so the MAX over months picks the same month and the
    single exposed ratio `dround`s at 6 dp. n_underwater counts months
    strictly below peak — an exact-integer comparison.

    Scale: one monthly rollup + one per-priority ordered window + one
    rollup to 5 rows."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(
        orders, F.col("o_orderpriority").alias("priority"), rev="rev"
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("mon")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = m.select(
        "priority",
        "rev",
        F.max("rev").over(w).alias("peak"),
    ).select(
        "priority",
        (F.col("peak") - F.col("rev")).cast("double")
        / F.col("peak").cast("double"),
        (F.col("rev") < F.col("peak")).alias("under"),
    )
    ddc = dd.toDF("priority", "dd", "under")
    return (
        ddc.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.max("dd").alias("mx"),
            F.sum(F.when(F.col("under"), 1).otherwise(0))
            .cast("long")
            .alias("n_underwater"),
        )
        .select(
            "priority",
            F.col("n_months").cast("long").alias("n_months"),
            dround(F.col("mx"), 6).alias("max_drawdown"),
            "n_underwater",
        )
        .orderBy("priority")
    )


QUERIES["window_drawdown"] = window_drawdown

ORACLE["window_drawdown"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "date_trunc('month', o_orderdate) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev FROM orders GROUP BY 1, 2), "
    "d AS (SELECT priority, rev, "
    "MAX(rev) OVER (PARTITION BY priority ORDER BY mon "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM m) "
    "SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_months, "
    "ROUND(MAX(CAST(peak - rev AS DOUBLE) / CAST(peak AS DOUBLE)), 6) "
    "AS max_drawdown, "
    "CAST(SUM(CASE WHEN rev < peak THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_underwater "
    "FROM d GROUP BY 1 ORDER BY 1"
)


# --- Rolling 6-month OLS trend slope per priority -------------------------------------


def window_rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Rolling OLS trend slope** — the windowed member of the trend
    family (`agg_linear_trend` fits one global line; this fits a
    6-month line ENDING AT EVERY MONTH, per priority): the local
    trend/momentum signal (slope in $/month) analysts overlay on the
    monthly series, with the window mean as its level companion.

    Determinism: x is the month ordinal (ROW_NUMBER over the monthly
    frame), y the scaled-int64 monthly revenue, so the five trailing
    sums (n, Σx, Σy, Σxy, Σx²) are EXACT integers; the slope
    (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) is one division of exact values per row
    (`dround` 4 after descaling). Only full windows emit (n = 6,
    integer compare), so the denominator is the fixed positive
    constant of six distinct x's — no zero-division branch at all.

    The trailing-sum windows order by `mon` — the ORIGINAL key the
    row-number was numbered over — never by the derived `x`
    (CLAUDE.md rule 5: Catalyst cannot prove the aliases equivalent
    and would re-sort between the stacked windows).

    Scale: one monthly rollup (map-side partial over orders), then
    two stacked windows sharing ONE sort per priority partition."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(
        orders, F.col("o_orderpriority").alias("priority"), rev="y_s"
    )
    w_rn = Window.partitionBy("priority").orderBy("mon")
    t = m.select(
        "priority",
        "mon",
        "y_s",
        F.row_number().over(w_rn).cast("long").alias("x"),
    )
    w6 = (
        Window.partitionBy("priority")
        .orderBy("mon")
        .rowsBetween(-5, Window.currentRow)
    )
    s = t.select(
        "priority",
        "mon",
        F.count(F.lit(1)).over(w6).alias("n"),
        F.sum("x").over(w6).alias("sx"),
        F.sum("y_s").over(w6).alias("sy"),
        F.sum(F.col("x") * F.col("y_s")).over(w6).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w6).alias("sx2"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    return s.filter(F.col("n") == 6).select(
        "priority",
        F.col("mon").alias("month"),
        dround(
            num.cast("double") / den.cast("double") / 10000.0, 4
        ).alias("slope_monthly"),
        dround(
            F.col("sy").cast("double") / F.col("n").cast("double") / 10000.0,
            4,
        ).alias("mean_monthly"),
    ).orderBy("priority", "month")


QUERIES["window_rolling_ols_slope"] = window_rolling_ols_slope

ORACLE["window_rolling_ols_slope"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS y_s FROM orders GROUP BY 1, 2), "
    "t AS (SELECT priority, mon, y_s, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) "
    "AS BIGINT) AS x FROM m), "
    "s AS (SELECT priority, mon, "
    "CAST(COUNT(*) OVER w6 AS BIGINT) AS n, "
    "CAST(SUM(x) OVER w6 AS BIGINT) AS sx, "
    "CAST(SUM(y_s) OVER w6 AS BIGINT) AS sy, "
    "CAST(SUM(x * y_s) OVER w6 AS BIGINT) AS sxy, "
    "CAST(SUM(x * x) OVER w6 AS BIGINT) AS sx2 FROM t "
    "WINDOW w6 AS (PARTITION BY priority ORDER BY mon "
    "ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)) "
    "SELECT priority, mon AS month, "
    "ROUND(CAST(n * sxy - sx * sy AS DOUBLE) "
    "/ CAST(n * sx2 - sx * sx AS DOUBLE) / 10000.0, 4) AS slope_monthly, "
    "ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0, 4) "
    "AS mean_monthly "
    "FROM s WHERE n = 6 ORDER BY priority, month"
)


# --- YTD running revenue vs prior-year YTD ---------------------------------------------


def window_ytd_vs_prior_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**YTD vs prior-year YTD** per priority — the fiscal-calendar
    running comparison every finance dashboard leads with (Kimball's
    "year-to-date vs same period last year"): cumulative revenue
    within the year at each month, joined against the SAME month
    offset of the previous year, with the YoY-YTD growth rate. The
    calendar-anchored member of the window family — `window_drawdown`
    compares against the running peak, `window_share_of_total` against
    the year total; this compares against LAST YEAR's partial total
    (which no single window frame expresses — it is a cumsum + a
    calendar self-join).

    Determinism: YTD is an exact int64 cumulative sum of the 1e4-scaled
    monthly revenue; the prior-year lookup is an integer equi-join on
    (priority, month-of-year, year−1) — no frame arithmetic, so missing
    months can never silently shift the comparison; growth is one
    division of exact ints, `dround` 6 (prior YTD > 0 always on this
    fixture; the join is INNER so year 1 rows without a comparator
    drop, keeping the output NULL-free).

    Scale: one corpus-sized monthly rollup, ONE window exchange per
    priority for the cumsum, then a dim-sized self-join (month-count
    rows) — broadcast-able."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    w_cum = (
        Window.partitionBy("priority", F.year("mon"))
        .orderBy("mon")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = m.select(
        "priority",
        "mon",
        F.year("mon").cast("int").alias("yr"),
        F.month("mon").cast("int").alias("monum"),
        "rev_s",
        F.sum("rev_s").over(w_cum).alias("ytd_s"),
    )
    # prior-year lookup as a SECOND WINDOW over the month-count frame
    # (partition by calendar month, lag one year) instead of a self-join
    # of two copies of the corpus-sized rollup subtree — Spark shares no
    # subtrees, so the join form would scan orders twice (rule 5)
    w_moy = Window.partitionBy("priority", "monum").orderBy("yr")
    j = t.select(
        "priority",
        "mon",
        "yr",
        "rev_s",
        "ytd_s",
        F.lag("yr").over(w_moy).alias("p_yr"),
        F.lag("ytd_s").over(w_moy).alias("p_ytd_s"),
    )
    return (
        j.filter(
            (F.col("p_yr") == F.col("yr") - F.lit(1))
            & (F.col("p_ytd_s") > 0)
        )
        .select(
            "priority",
            "mon",
            F.round(F.col("rev_s") / 10_000.0, 4).alias("revenue"),
            F.round(F.col("ytd_s") / 10_000.0, 4).alias("ytd_revenue"),
            F.round(F.col("p_ytd_s") / 10_000.0, 4).alias(
                "prior_ytd_revenue"
            ),
            dround(
                (
                    F.col("ytd_s").cast("double")
                    - F.col("p_ytd_s").cast("double")
                )
                / F.col("p_ytd_s").cast("double"),
                6,
            ).alias("yoy_ytd_growth"),
        )
        .orderBy("priority", "mon")
    )


QUERIES["window_ytd_vs_prior_year"] = window_ytd_vs_prior_year

ORACLE["window_ytd_vs_prior_year"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "t AS (SELECT priority, mon, "
    "CAST(year(mon) AS INT) AS yr, CAST(month(mon) AS INT) AS monum, "
    "rev_s, CAST(SUM(rev_s) OVER (PARTITION BY priority, year(mon) "
    "ORDER BY mon ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS BIGINT) AS ytd_s FROM m), "
    "j AS (SELECT priority, mon, yr, rev_s, ytd_s, "
    "LAG(yr) OVER w AS p_yr, LAG(ytd_s) OVER w AS p_ytd_s FROM t "
    "WINDOW w AS (PARTITION BY priority, monum ORDER BY yr)) "
    "SELECT priority, mon, "
    "ROUND(CAST(rev_s AS DOUBLE) / 10000.0, 4) AS revenue, "
    "ROUND(CAST(ytd_s AS DOUBLE) / 10000.0, 4) AS ytd_revenue, "
    "ROUND(CAST(p_ytd_s AS DOUBLE) / 10000.0, 4) AS prior_ytd_revenue, "
    "ROUND((CAST(ytd_s AS DOUBLE) - CAST(p_ytd_s AS DOUBLE)) "
    "/ CAST(p_ytd_s AS DOUBLE), 6) AS yoy_ytd_growth "
    "FROM j WHERE p_yr = yr - 1 AND p_ytd_s > 0 "
    "ORDER BY priority, mon"
)


# --- Cross-sectional peer z-score per month -------------------------------------------------


def window_peer_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Peer-group z-score**: each priority's monthly revenue
    standardized against THAT MONTH's cross-priority distribution —
    the benchmarking view dashboards use to ask "which segment is
    unusually hot this month, net of the month itself" (the
    cross-sectional transpose of `dq_anomaly_zscore`'s within-series
    z; seasonality and macro shocks cancel because the peer mean
    absorbs them).

    Determinism: the monthly frame is exact 1e4-scaled int64; each
    month's n·Σx² − (Σx)² moment is exact DECIMAL(38,0) ≡ HUGEINT, so
    z = (n·x − Σx)/√(n·(n·Σx² − (Σx)²)) is one fixed-shape double per
    row off exact ints (the denominators clear by n — no per-month
    mean materializes), `dround` 6. Degenerate months (zero variance)
    drop on the exact integer.

    Scale: one corpus-sized monthly rollup; one window exchange by
    month over the k-per-month frame."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(
        orders, F.col("o_orderpriority").alias("priority"), rev="x"
    )
    w_m = Window.partitionBy("mon")

    t = m.select(
        "priority",
        "mon",
        "x",
        F.count(F.lit(1)).over(w_m).alias("n"),
        F.sum(d38("x")).over(w_m).alias("s"),
        F.sum(d38("x") * F.col("x")).over(w_m).alias("q"),
    )
    m2 = d38("n") * F.col("q") - F.col("s") * F.col("s")
    dev = d38("n") * F.col("x") - F.col("s")
    z = dev.cast("double") / F.sqrt(
        F.col("n").cast("double") * m2.cast("double")
    )
    return (
        t.filter(m2 > 0)
        .select(
            "priority",
            "mon",
            F.round(F.col("x") / 10_000.0, 4).alias("revenue"),
            dround(z, 6).alias("peer_z"),
        )
        .orderBy("priority", "mon")
    )


QUERIES["window_peer_zscore"] = window_peer_zscore

ORACLE["window_peer_zscore"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS x FROM orders GROUP BY 1, 2), "
    "t AS (SELECT priority, mon, x, "
    "CAST(COUNT(*) OVER w AS BIGINT) AS n, "
    "SUM(CAST(x AS HUGEINT)) OVER w AS s, "
    "SUM(CAST(x AS HUGEINT) * x) OVER w AS q "
    "FROM m WINDOW w AS (PARTITION BY mon)) "
    "SELECT priority, mon, "
    "ROUND(CAST(x AS DOUBLE) / 10000.0, 4) AS revenue, "
    "ROUND(CAST(CAST(n AS HUGEINT) * x - s AS DOUBLE) "
    "/ sqrt(CAST(n AS DOUBLE) * CAST(CAST(n AS HUGEINT) * q - s * s "
    "AS DOUBLE)), 6) AS peer_z "
    "FROM t WHERE CAST(n AS HUGEINT) * q - s * s > 0 "
    "ORDER BY priority, mon"
)


# --- Rolling growth stability ("Sharpe") ratio ----------------------------------------------

RSR_W = 6  # trailing window length (months)


def window_rolling_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Rolling growth-stability ratio** — trailing 6-month mean of
    the MoM revenue CHANGE divided by its trailing standard deviation
    (the Sharpe-ratio construction applied to a revenue stream; Sharpe
    1966): the "is growth steady or lumpy" panel beside
    `window_bollinger_bands` (which bands the LEVEL; this scores the
    DIFFERENCES — a segment can sit inside its bands while its growth
    whipsaws).

    Determinism: the MoM change is an exact int64 difference of
    1e4-scaled sums; the rolling second moment is exact per frame
    (w·Σd² − (Σd)², DECIMAL(38,0) ≡ HUGEINT over the SAME WindowSpec);
    the ratio is one fixed-shape double per row, `dround` 6, with the
    zero-variance frame filtered on the exact integer.

    Scale: one corpus-sized monthly rollup; ONE window exchange per
    priority serves the lag, both frame sums and the count."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    w_ord = Window.partitionBy("priority").orderBy("mon")
    d = m.select(
        "priority",
        "mon",
        (F.col("rev_s") - F.lag("rev_s").over(w_ord)).alias("diff_s"),
    ).filter(F.col("diff_s").isNotNull())
    w6 = (
        Window.partitionBy("priority")
        .orderBy("mon")
        .rowsBetween(-(RSR_W - 1), 0)
    )

    framed = d.select(
        "priority",
        "mon",
        "diff_s",
        F.count(F.lit(1)).over(w6).alias("w"),
        F.sum(d38("diff_s")).over(w6).alias("s1"),
        F.sum(d38("diff_s") * F.col("diff_s")).over(w6).alias("s2"),
    )
    m2 = d38("w") * F.col("s2") - F.col("s1") * F.col("s1")
    w_d = F.col("w").cast("double")
    mean_d = F.col("s1").cast("double") / w_d
    sd_d = F.sqrt(m2.cast("double")) / w_d
    return (
        framed.filter((m2 > 0) & (F.col("w") >= 2))
        .select(
            "priority",
            "mon",
            F.round(F.col("diff_s") / 10_000.0, 4).alias("mom_change"),
            dround(mean_d / 10_000.0, 4).alias("rolling_mean_change"),
            dround(sd_d / 10_000.0, 4).alias("rolling_sd_change"),
            dround(mean_d / sd_d, 6).alias("stability_ratio"),
        )
        .orderBy("priority", "mon")
    )


QUERIES["window_rolling_sharpe"] = window_rolling_sharpe

ORACLE["window_rolling_sharpe"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "d AS (SELECT priority, mon, "
    "rev_s - LAG(rev_s) OVER (PARTITION BY priority ORDER BY mon) "
    "AS diff_s FROM m), "
    "f AS (SELECT priority, mon, diff_s, "
    "CAST(COUNT(*) OVER w AS BIGINT) AS w, "
    "SUM(CAST(diff_s AS HUGEINT)) OVER w AS s1, "
    "SUM(CAST(diff_s AS HUGEINT) * diff_s) OVER w AS s2 "
    "FROM d WHERE diff_s IS NOT NULL "
    "WINDOW w AS (PARTITION BY priority ORDER BY mon "
    f"ROWS BETWEEN {RSR_W - 1} PRECEDING AND CURRENT ROW)) "
    "SELECT priority, mon, "
    "ROUND(CAST(diff_s AS DOUBLE) / 10000.0, 4) AS mom_change, "
    "ROUND(CAST(s1 AS DOUBLE) / CAST(w AS DOUBLE) / 10000.0, 4) "
    "AS rolling_mean_change, "
    "ROUND(sqrt(CAST(CAST(w AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)) "
    "/ CAST(w AS DOUBLE) / 10000.0, 4) AS rolling_sd_change, "
    "ROUND((CAST(s1 AS DOUBLE) / CAST(w AS DOUBLE)) "
    "/ (sqrt(CAST(CAST(w AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)) "
    "/ CAST(w AS DOUBLE)), 6) AS stability_ratio "
    "FROM f WHERE CAST(w AS HUGEINT) * s2 - s1 * s1 > 0 AND w >= 2 "
    "ORDER BY priority, mon"
)


def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Rolling 30-day Pearson correlation** between daily order count
    and daily revenue, per order priority — the co-movement diagnostic
    (does volume drive revenue, and does the coupling drift?) beside
    `window_rolling_ols_slope`'s univariate trend fit.

    Determinism: the five rolling sums (Σx, Σy, Σxy, Σx², Σy²) are
    EXACT — counts and scaled-int64 revenue, with the products
    accumulated in DECIMAL(38,0) ≡ HUGEINT (x·y reaches ~9e18 and y²
    ~6e26 at the 1000x extrapolation); the correlation assembles in
    DOUBLE from the exact sums with `F.try_divide` (zero-variance
    windows → NULL, filtered by the SAME predicate both engines) and
    rounds per-row via `dround` 6 (the per-row-ratio rule). Only full
    30-day windows emit.

    Scale: one daily pre-aggregate (map-side combinable), then ONE
    window exchange+sort on the ~(priority x day) frame — calendar-
    bounded, the `window_bollinger_bands` posture; all five frame
    aggregates share the WindowSpec → a single WindowExec."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("day", F.col("o_orderdate")).alias("day"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(
            _nearest_long_away(F.col("o_totalprice") * 10000)
        ).cast("long").alias("y"),
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("day")
        .rowsBetween(-29, Window.currentRow)
    )
    rolled = daily.select(
        "priority",
        "day",
        F.count(F.lit(1)).over(w).cast("long").alias("nw"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum(d38("y")).over(w).alias("sy"),
        F.sum(d38(F.col("x") * F.col("y"))).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sx2"),
        F.sum(d38(d38("y") * F.col("y"))).over(w).alias("sy2"),
    ).filter(F.col("nw") == 30)
    nd = F.col("nw").cast("double")
    cov = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    vx = nd * F.col("sx2").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vy = nd * F.col("sy2").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    corr = F.try_divide(cov, F.sqrt(vx) * F.sqrt(vy))
    return (
        rolled.select(
            "priority",
            "day",
            F.col("sx").alias("orders_30d"),
            dround(corr, 6).alias("corr_30d"),
        )
        .filter(F.col("corr_30d").isNotNull())
        .orderBy("priority", "day")
    )


QUERIES["window_rolling_corr"] = window_rolling_corr

ORACLE["window_rolling_corr"] = (
    "WITH daily AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day, "
    "CAST(COUNT(*) AS BIGINT) AS x, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS y FROM orders GROUP BY 1, 2), "
    "rolled AS (SELECT priority, day, "
    "CAST(COUNT(*) OVER w AS BIGINT) AS nw, "
    "CAST(SUM(x) OVER w AS BIGINT) AS sx, "
    "SUM(CAST(y AS HUGEINT)) OVER w AS sy, "
    "SUM(CAST(x * y AS HUGEINT)) OVER w AS sxy, "
    "CAST(SUM(x * x) OVER w AS BIGINT) AS sx2, "
    "SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) OVER w AS sy2 "
    "FROM daily WINDOW w AS (PARTITION BY priority ORDER BY day "
    "ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)), "
    "c AS (SELECT priority, day, sx AS orders_30d, "
    "ROUND((CAST(nw AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(CAST(nw AS "
    "DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS "
    "DOUBLE)) * sqrt(CAST(nw AS DOUBLE) * CAST(sy2 AS DOUBLE) "
    "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr_30d "
    "FROM rolled WHERE nw = 30 "
    "AND CAST(nw AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) "
    "* CAST(sx AS DOUBLE) > 0 "
    "AND CAST(nw AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) "
    "* CAST(sy AS DOUBLE) > 0) "
    "SELECT priority, day, orders_30d, corr_30d FROM c "
    "WHERE corr_30d IS NOT NULL ORDER BY priority, day"
)
