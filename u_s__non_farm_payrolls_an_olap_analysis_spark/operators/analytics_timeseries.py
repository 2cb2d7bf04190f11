"""Time-series diagnostics, decompositions, and forecast backtests on
the monthly order series (split out of ``analytics.py`` in round 14;
keys and semantics unchanged).
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
from ..functions.timeparts import monthly_revenue
from ..io import read_table

QUERIES: dict = {}
ORACLE: dict = {}


def _trend_seasonal(m: DataFrame) -> DataFrame:
    """The exact classical-decomposition components of the per-priority
    series ``m`` ``(priority, mon, rev_s)``, shared by the decompose and
    the strength operators: ``(priority, moy, mon, rev_s, t24, d24,
    s_micro, n_moy, tot_micro)`` with ``t24`` the centered 2x12 moving
    average times 24 (scaled-int64; only where the full 13-month window
    exists), ``d24 = 24·rev_s − t24`` and ``s_micro`` the month-of-year
    mean of ``d24`` in micro-dollars, centered by ``n_moy·s_micro −
    tot_micro``. One window exchange per series key, then a ~60-row
    broadcast join for the seasonal indices."""
    wo = Window.partitionBy("priority").orderBy("mon")
    w11 = wo.rowsBetween(-5, 5)
    w = m.select(
        "priority",
        "mon",
        "rev_s",
        F.count(F.lit(1)).over(w11).alias("cnt11"),
        F.sum("rev_s").over(w11).alias("sum11"),
        F.lag("rev_s", 6).over(wo).alias("lag6"),
        F.lead("rev_s", 6).over(wo).alias("lead6"),
    )
    t = (
        w.filter(
            (F.col("cnt11") == 11)
            & F.col("lag6").isNotNull()
            & F.col("lead6").isNotNull()
        )
        .select(
            "priority",
            "mon",
            "rev_s",
            F.month("mon").alias("moy"),
            (2 * F.col("sum11") + F.col("lag6") + F.col("lead6")).alias("t24"),
        )
        .withColumn("d24", 24 * F.col("rev_s") - F.col("t24"))
    )
    s = t.groupBy("priority", "moy").agg(
        F.sum("d24").alias("sum_d"), F.count(F.lit(1)).alias("cnt")
    )
    # integer round-half-away of (25*sum_d)/(6*cnt) micro-dollars: the
    # DIV operand is kept non-negative so Spark DIV (truncate-to-zero)
    # and DuckDB // agree by construction
    mag = F.expr("(2 * abs(25 * sum_d) + 6 * cnt) DIV (12 * cnt)")
    sm = s.select(
        "priority",
        "moy",
        F.when(F.col("sum_d") >= 0, mag).otherwise(-mag).alias("s_micro"),
    )
    wp = Window.partitionBy("priority")
    sc = sm.select(
        "priority",
        "moy",
        "s_micro",
        F.count(F.lit(1)).over(wp).alias("n_moy"),
        F.sum("s_micro").over(wp).alias("tot_micro"),
    )
    return t.join(F.broadcast(sc), ["priority", "moy"])


def timeseries_classical_decompose(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method of Macaulay 1931, as in Hyndman & Athanasopoulos FPP §3.4)
    of the monthly per-priority revenue series — the reference's domain
    is exactly this kind of monthly macro series (`dashboard_nfp.py`
    computes MoM changes and yearly rollups; decomposition is the next
    question an analyst asks of it):

    - **trend** = centered 2x12-term moving average (index-based frames;
      the fixture series is gapless monthly, and the contract — mirrored
      in the oracle — is ROWS-based) computed EXACTLY in scaled-int64:
      ``t24 = 2*sum(rev_s)[-5..+5] + rev_s[-6] + rev_s[+6]`` (units =
      24 x 1e4-scaled dollars), defined only where the full 13-month
      window exists.
    - **seasonal** = per month-of-year mean of the exact detrended
      integers, rounded half-away in PURE INTEGER space
      (``(2|25*sum_d| + 6*cnt) DIV (12*cnt)`` micro-dollars — no FP in
      the mean), then centered so the 12 indices sum to ~0 with an
      exact-integer numerator ``n*s_micro - tot_micro``.
    - **residual** = detrended minus the (rounded) seasonal index —
      every emitted double is a single division off exact int64s, so
      the DuckDB twin hash-matches bit for bit.

    Scale: one shuffle for the monthly rollup (map-side partial over
    orders), one window exchange per series key, a ~60-row broadcast
    join for the seasonal indices. Series count scales out; series
    length stays bounded (monthly grain)."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    joined = _trend_seasonal(m)
    seasonal = (
        (F.col("n_moy") * F.col("s_micro") - F.col("tot_micro"))
        .cast("double")
        / (F.col("n_moy") * 1_000_000.0)
    )
    return joined.select(
        "priority",
        "mon",
        F.round(F.col("rev_s").cast("double") / 10_000.0, 4).alias("revenue"),
        dround(F.col("t24").cast("double") / 240_000.0, 4).alias("trend"),
        dround(seasonal, 6).alias("seasonal"),
        dround(
            F.col("d24").cast("double") / 240_000.0 - dround(seasonal, 6), 6
        ).alias("residual"),
    ).orderBy("priority", "mon")


QUERIES["timeseries_classical_decompose"] = timeseries_classical_decompose

ORACLE["timeseries_classical_decompose"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "w AS (SELECT priority, mon, rev_s, "
    "COUNT(*) OVER win11 AS cnt11, "
    "CAST(SUM(rev_s) OVER win11 AS BIGINT) AS sum11, "
    "LAG(rev_s, 6) OVER wino AS lag6, "
    "LEAD(rev_s, 6) OVER wino AS lead6 "
    "FROM m WINDOW wino AS (PARTITION BY priority ORDER BY mon), "
    "win11 AS (PARTITION BY priority ORDER BY mon "
    "ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)), "
    "t AS (SELECT priority, mon, rev_s, MONTH(mon) AS moy, "
    "2 * sum11 + lag6 + lead6 AS t24, "
    "24 * rev_s - (2 * sum11 + lag6 + lead6) AS d24 "
    "FROM w WHERE cnt11 = 11 AND lag6 IS NOT NULL "
    "AND lead6 IS NOT NULL), "
    "s AS (SELECT priority, moy, CAST(SUM(d24) AS BIGINT) AS sum_d, "
    "COUNT(*) AS cnt FROM t GROUP BY 1, 2), "
    "sm AS (SELECT priority, moy, CASE WHEN sum_d >= 0 "
    "THEN (2 * abs(25 * sum_d) + 6 * cnt) // (12 * cnt) "
    "ELSE -((2 * abs(25 * sum_d) + 6 * cnt) // (12 * cnt)) END "
    "AS s_micro FROM s), "
    "sc AS (SELECT priority, moy, s_micro, "
    "COUNT(*) OVER (PARTITION BY priority) AS n_moy, "
    "CAST(SUM(s_micro) OVER (PARTITION BY priority) AS BIGINT) "
    "AS tot_micro FROM sm) "
    "SELECT t.priority, t.mon, "
    "ROUND(CAST(t.rev_s AS DOUBLE) / 10000.0, 4) AS revenue, "
    "ROUND(CAST(t.t24 AS DOUBLE) / 240000.0, 4) AS trend, "
    "ROUND(CAST(sc.n_moy * sc.s_micro - sc.tot_micro AS DOUBLE) "
    "/ (sc.n_moy * 1000000.0), 6) AS seasonal, "
    "ROUND(CAST(t.d24 AS DOUBLE) / 240000.0 "
    "- ROUND(CAST(sc.n_moy * sc.s_micro - sc.tot_micro AS DOUBLE) "
    "/ (sc.n_moy * 1000000.0), 6), 6) AS residual "
    "FROM t JOIN sc ON t.priority = sc.priority AND t.moy = sc.moy "
    "ORDER BY 1, 2"
)


def _acf_sums(m: DataFrame, max_lag: int) -> tuple[DataFrame, DataFrame]:
    """The exact correlogram sums of the per-priority series ``m``
    ``(priority, mon, rev_s)``, shared by the ACF, Ljung–Box, AR(2) and
    PACF operators: with z_t = n·y_t − Σy (the mean-centering cleared
    of its /n), ``num`` ``(priority, lag_k, num)`` holds Σ z_t·z_{t−k}
    for k = 1..max_lag and ``den`` ``(priority, n, den)`` holds Σ z_t²,
    so r_k = num/den with the n² cancelled — both exact integer sums.
    The lag pairing is a per-key range self-join with fan-out ≤
    max_lag rows per month."""
    wp = Window.partitionBy("priority")
    wo = Window.partitionBy("priority").orderBy("mon")
    # z = n*y - S is exact in int64 (|z| < 2n·max(rev_s)); the decimal
    # cast widens BEFORE the products, whose magnitudes (~1e31 at 100x)
    # need 128-bit — decimal(18,0)^2 -> decimal(37,0), sums at 38. rn
    # comes first: its (priority, mon) sort then also serves the
    # per-priority count/sum window (the reverse order sorts twice)
    z = m.select(
        "priority",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
        (F.count(F.lit(1)).over(wp) * F.col("rev_s") - F.sum("rev_s").over(wp))
        .cast("decimal(18,0)")
        .alias("z"),
    )
    den = z.groupBy("priority", "n").agg(
        F.sum(F.col("z") * F.col("z")).alias("den")
    )
    a, b = z.alias("a"), z.alias("b")
    num = (
        a.join(
            b,
            (F.col("a.priority") == F.col("b.priority"))
            & (F.col("a.rn") - F.col("b.rn")).between(1, max_lag),
        )
        .groupBy(
            F.col("a.priority").alias("priority"),
            (F.col("a.rn") - F.col("b.rn")).cast("int").alias("lag_k"),
        )
        .agg(F.sum(F.col("a.z") * F.col("b.z")).alias("num"))
    )
    return num, den


ACF_MAX_LAG = 12


def timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **sample autocorrelation function** (Box & Jenkins
    1970, §2.1; the correlogram) of the monthly per-priority revenue
    series at lags 1..12, with the ±1.96/√n white-noise band — the
    diagnostic an analyst runs on exactly the reference's kind of
    monthly macro series before fitting anything (the reference's own
    `pct_change` in `dashboard_nfp.py:152` is the lag-1 special case
    of this machinery).

    Determinism: with y the scaled-int64 monthly revenue and
    z_t = n·y_t − Σy (the mean-centering cleared of its /n), the
    textbook r_k = Σ(y_t−ȳ)(y_{t−k}−ȳ) / Σ(y_t−ȳ)² equals
    Σ z_t·z_{t−k} / Σ z_t² — the n² cancels — so numerator and
    denominator are EXACT integer sums (z products as decimal in
    Spark ≡ HUGEINT in DuckDB; order-independent), and each emitted
    double is one division of two exact values, `dround`ed at 6 dp.

    Scale: the corpus-sized work is the monthly rollup (map-side
    partial over orders); everything after runs on the ~80-row-per-key
    monthly aggregate — the lag pairing is a per-key range self-join
    with fan-out ≤ 12 rows per month, the collapse-first discipline of
    CLAUDE.md rule 5. Series count scales out; series length stays
    bounded by the monthly grain.

    vs reference: extends `dashboard_nfp.py:152`'s lag-1 MoM change to
    the full correlogram; no other analogue.
    """
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    num, den = _acf_sums(m, ACF_MAX_LAG)
    return (
        num.join(den, "priority")
        .select(
            "priority",
            "lag_k",
            dround(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("acf"),
            dround(F.lit(1.96) / F.sqrt(F.col("n").cast("double")), 6).alias(
                "ci95"
            ),
        )
        .orderBy("priority", "lag_k")
    )


QUERIES["timeseries_acf"] = timeseries_acf

ORACLE["timeseries_acf"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "date_trunc('month', o_orderdate) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    # SUM(bigint) OVER is HUGEINT in DuckDB, so z is 128-bit exact here
    # just as the decimal(18,0) cast makes it in Spark
    "z AS (SELECT priority, "
    "COUNT(*) OVER (PARTITION BY priority) AS n, "
    "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) AS rn, "
    "CAST(COUNT(*) OVER (PARTITION BY priority) AS HUGEINT) * rev_s "
    "- SUM(rev_s) OVER (PARTITION BY priority) AS z "
    "FROM m), "
    "den AS (SELECT priority, MAX(n) AS n, SUM(z * z) AS den "
    "FROM z GROUP BY 1), "
    "num AS (SELECT a.priority, CAST(a.rn - b.rn AS INT) AS lag_k, "
    "SUM(a.z * b.z) AS num FROM z a JOIN z b "
    f"ON a.priority = b.priority AND a.rn - b.rn BETWEEN 1 AND {ACF_MAX_LAG} "
    "GROUP BY 1, 2) "
    "SELECT num.priority, lag_k, "
    "ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf, "
    "ROUND(1.96 / sqrt(CAST(den.n AS DOUBLE)), 6) AS ci95 "
    "FROM num JOIN den ON num.priority = den.priority ORDER BY 1, 2"
)


MEDIAN_WIN = 2  # centered 5-month window: ROWS BETWEEN -2 AND +2


def timeseries_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **running-median smoothing** (Tukey, EDA 1977 §7:
    median smoothers resist the outliers a moving AVERAGE smears) of the
    monthly per-priority revenue series: the centered 5-month median,
    plus the residual against it — the robust companion of
    `window_moving_stats`' trailing mean and the smoothing primitive
    `dq_anomaly_mad`'s Hampel filter builds on.

    Determinism: the series values are scaled int64 (`dsum_scaled`), so
    the window median is either an exact integer (odd frame) or the
    midpoint of two integers (edge frames with even count) — Spark
    ``percentile(x, 0.5)`` ≡ DuckDB ``quantile_cont(x, 0.5)`` linear
    interpolation, the equivalence `agg_percentiles` already pins, with
    every interpolation here a /2 of exact ints (exact in binary FP).

    Scale: one shuffle for the monthly rollup, one window exchange per
    series key; frame length is constant so the median costs O(w log w)
    per row on a bounded w=5. Series count scales out."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    w5 = (
        Window.partitionBy("priority")
        .orderBy("mon")
        .rowsBetween(-MEDIAN_WIN, MEDIAN_WIN)
    )
    med = F.expr("percentile(rev_s, 0.5)")
    smoothed = m.select(
        "priority",
        "mon",
        "rev_s",
        med.over(w5).alias("med_s"),
    )
    return smoothed.select(
        "priority",
        "mon",
        F.round(F.col("rev_s").cast("double") / 10_000.0, 4).alias(
            "revenue"
        ),
        dround(F.col("med_s") / 10_000.0, 4).alias("median5"),
        dround(
            (F.col("rev_s").cast("double") - F.col("med_s")) / 10_000.0, 4
        ).alias("residual"),
    ).orderBy("priority", "mon")


QUERIES["timeseries_moving_median"] = timeseries_moving_median

ORACLE["timeseries_moving_median"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "s AS (SELECT priority, mon, rev_s, "
    "quantile_cont(rev_s, 0.5) OVER (PARTITION BY priority ORDER BY mon "
    f"ROWS BETWEEN {MEDIAN_WIN} PRECEDING AND {MEDIAN_WIN} FOLLOWING) "
    "AS med_s FROM m) "
    "SELECT priority, mon, "
    "ROUND(CAST(rev_s AS DOUBLE) / 10000.0, 4) AS revenue, "
    "ROUND(med_s / 10000.0, 4) AS median5, "
    "ROUND((CAST(rev_s AS DOUBLE) - med_s) / 10000.0, 4) AS residual "
    "FROM s ORDER BY 1, 2"
)


MASE_H = 12  # holdout length (months) and the seasonal period


def timeseries_seasonal_naive_mase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """North-star — **forecast backtest: seasonal-naive + MASE**
    (Hyndman & Koehler, IJF 2006 — the scale-free forecast-accuracy
    measure): hold out each priority's last 12 months, forecast every
    held-out month with the seasonal-naive rule ŷ_t = y_{t−12}, and
    score MASE = (test MAE) / (train MAE of the same seasonal-naive) —
    the standard "is the model better than the naive?" gate, and the
    natural next step after the reference's trend/MoM analytics
    (`dashboard_nfp.py` §trends) toward forecasting.

    Determinism: y is scaled int64 (`dsum_scaled`), so each absolute
    error is an exact integer and MASE = (Σ|e_test|·n_train) /
    (Σ|e_train|·n_test) is one double division of two exact int64
    products, `dround`ed at 6 dp; the test MAE is the exact integer sum
    divided by (n_test·1e4). Guard: priorities whose history is too
    short for a 12-lag train error drop out in BOTH engines (n_train
    errors counted AFTER the lag, identically).

    Scale: the corpus-sized work is the monthly rollup; the backtest is
    two window functions and one aggregate on the ~80-row-per-key
    series. Series count scales out (CLAUDE.md rule 5)."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    wo = Window.partitionBy("priority").orderBy("mon")
    wd = Window.partitionBy("priority").orderBy(F.col("mon").desc())
    lagged = m.select(
        "priority",
        "rev_s",
        F.lag("rev_s", MASE_H).over(wo).alias("base"),
        F.row_number().over(wd).alias("rn_desc"),
    ).filter(F.col("base").isNotNull())
    err = lagged.select(
        "priority",
        (F.col("rn_desc") <= MASE_H).alias("is_test"),
        F.abs(F.col("rev_s") - F.col("base")).alias("ae"),
    )
    agg = err.groupBy("priority").agg(
        F.sum(F.when(F.col("is_test"), F.col("ae"))).alias("sum_test"),
        F.count(F.when(F.col("is_test"), F.lit(1))).alias("n_test"),
        F.sum(F.when(~F.col("is_test"), F.col("ae"))).alias("sum_train"),
        F.count(F.when(~F.col("is_test"), F.lit(1))).alias("n_train"),
    )
    return (
        agg.filter((F.col("n_train") > 0) & (F.col("n_test") > 0))
        .select(
            "priority",
            F.col("n_train").cast("int").alias("n_train"),
            F.col("n_test").cast("int").alias("n_test"),
            dround(
                F.col("sum_test").cast("double")
                / (F.col("n_test") * 10_000.0),
                4,
            ).alias("mae_test"),
            dround(
                (F.col("sum_test") * F.col("n_train")).cast("double")
                / (F.col("sum_train") * F.col("n_test")).cast("double"),
                6,
            ).alias("mase"),
        )
        .orderBy("priority")
    )


QUERIES["timeseries_seasonal_naive_mase"] = timeseries_seasonal_naive_mase

ORACLE["timeseries_seasonal_naive_mase"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "date_trunc('month', o_orderdate) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "lagged AS (SELECT priority, rev_s, "
    f"LAG(rev_s, {MASE_H}) OVER (PARTITION BY priority ORDER BY mon) "
    "AS base, ROW_NUMBER() OVER (PARTITION BY priority "
    "ORDER BY mon DESC) AS rn_desc FROM m), "
    "err AS (SELECT priority, "
    f"rn_desc <= {MASE_H} AS is_test, abs(rev_s - base) AS ae "
    "FROM lagged WHERE base IS NOT NULL), "
    "agg AS (SELECT priority, "
    "CAST(SUM(CASE WHEN is_test THEN ae END) AS BIGINT) AS sum_test, "
    "CAST(COUNT(CASE WHEN is_test THEN 1 END) AS BIGINT) AS n_test, "
    "CAST(SUM(CASE WHEN NOT is_test THEN ae END) AS BIGINT) AS sum_train, "
    "CAST(COUNT(CASE WHEN NOT is_test THEN 1 END) AS BIGINT) AS n_train "
    "FROM err GROUP BY 1) "
    "SELECT priority, CAST(n_train AS INT) AS n_train, "
    "CAST(n_test AS INT) AS n_test, "
    "ROUND(CAST(sum_test AS DOUBLE) / (n_test * 10000.0), 4) AS mae_test, "
    "ROUND(CAST(sum_test * n_train AS DOUBLE) "
    "/ CAST(sum_train * n_test AS DOUBLE), 6) AS mase "
    "FROM agg WHERE n_train > 0 AND n_test > 0 ORDER BY 1"
)


# --- Periodogram: exact-integer DFT power at candidate seasonal periods ------

# cos/sin basis values at 2*pi*k/P, scaled by 1e6 and DEFINED as these
# integer literals in BOTH engines (the only irrational ones are
# +/-sqrt(3)/2 ~ +/-0.866025): the basis is part of the operator's
# contract, so no cross-engine trig ULP can enter.
PGRAM_BASIS = [
    (3, [1000000, -500000, -500000], [0, 866025, -866025]),
    (4, [1000000, 0, -1000000, 0], [0, 1000000, 0, -1000000]),
    (
        6,
        [1000000, 500000, -500000, -1000000, -500000, 500000],
        [0, 866025, 866025, 0, -866025, -866025],
    ),
    (
        12,
        [1000000, 866025, 500000, 0, -500000, -866025,
         -1000000, -866025, -500000, 0, 500000, 866025],
        [0, 500000, 866025, 1000000, 866025, 500000,
         0, -500000, -866025, -1000000, -866025, -500000],
    ),
]


def timeseries_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Seasonality detection via a single-frequency DFT periodogram**
    (Schuster 1898; the harmonic-regression identity: the squared DFT
    coefficient at period P is the least-squares fit of a P-periodic
    sinusoid): project the de-meaned monthly revenue series onto the
    cos/sin pair at candidate periods {3, 4, 6, 12} months and report
    each period's fitted amplitude and share of variance explained —
    the quantitative answer to the reference's seasonality question
    (`dashboard_nfp.py` "is there a seasonal pattern?") that
    `timeseries_acf` answers in lag space.

    Determinism: y is scaled int64; de-meaning multiplies through by n
    (yc = n*y_t - S, exact); the basis is the PGRAM_BASIS integer table
    (see above); weighted sums run in DECIMAL(38,0) (Spark) == HUGEINT
    (DuckDB) — exact integers — and only the final amplitude/share
    arithmetic touches doubles: cast-from-exact-integer, two squares,
    one add, sqrt (IEEE correctly-rounded), fixed-shape quotients,
    `dround`. Identical expression shape in both engines.

    Scale: ONE corpus-sized shuffle (the monthly rollup); everything
    after runs on the ~n_months-row series (x4 periods after the basis
    explode). The scalar (S, n) rides a broadcast cross join."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders)
    w = Window.partitionBy().orderBy("mon")
    idx = m.select(F.row_number().over(w).alias("t"), "rev_s")
    tot = idx.agg(
        F.sum("rev_s").alias("s_tot"), F.count(F.lit(1)).alias("n")
    )
    centered = idx.crossJoin(F.broadcast(tot)).select(
        "t",
        "n",
        (
            F.col("rev_s").cast("decimal(38,0)") * F.col("n")
            - F.col("s_tot").cast("decimal(38,0)")
        ).alias("yc"),
    )
    basis = F.array(
        *[
            F.struct(
                F.lit(p).alias("period"),
                F.lit(cs).alias("cosv"),
                F.lit(ss).alias("sinv"),
            )
            for p, cs, ss in PGRAM_BASIS
        ]
    )
    pos = ((F.col("t") - 1) % F.col("period") + 1).cast("int")
    expanded = (
        centered.select("t", "n", "yc", F.explode(basis).alias("p"))
        .select(
            "t",
            "n",
            "yc",
            F.col("p.period").alias("period"),
            F.col("p.cosv").alias("cosv"),
            F.col("p.sinv").alias("sinv"),
        )
        .select(
            "n",
            "period",
            (F.col("yc") * F.element_at("cosv", pos)).alias("pc"),
            (F.col("yc") * F.element_at("sinv", pos)).alias("ps"),
            (F.col("yc") * F.col("yc")).alias("y2"),
        )
    )
    g = expanded.groupBy("period", "n").agg(
        F.sum("pc").alias("a_e"),
        F.sum("ps").alias("b_e"),
        F.sum("y2").alias("m2_e"),
    )
    a = F.col("a_e").cast("double")
    b = F.col("b_e").cast("double")
    m2 = F.col("m2_e").cast("double")
    n_d = F.col("n").cast("double")
    return g.select(
        "period",
        F.col("n").cast("int").alias("n_months"),
        dround(
            F.lit(2.0) * F.sqrt(a * a + b * b) / (n_d * n_d * F.lit(1e10)),
            4,
        ).alias("amp"),
        dround(
            F.lit(2.0) * (a * a + b * b) / (n_d * m2 * F.lit(1e12)), 6
        ).alias("var_share"),
    ).orderBy("period")


QUERIES["timeseries_periodogram"] = timeseries_periodogram


def _pgram_oracle_sql() -> str:
    values = ", ".join(
        f"({p}, {cs}, {ss})" for p, cs, ss in PGRAM_BASIS
    )
    return (
        "WITH m AS (SELECT date_trunc('month', o_orderdate) AS mon, "
        "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
        "AS rev_s FROM orders GROUP BY 1), "
        "idx AS (SELECT ROW_NUMBER() OVER (ORDER BY mon) AS t, rev_s "
        "FROM m), "
        "tot AS (SELECT CAST(SUM(rev_s) AS HUGEINT) AS s_tot, "
        "CAST(COUNT(*) AS BIGINT) AS n FROM idx), "
        "c AS (SELECT t, n, CAST(rev_s AS HUGEINT) * n - s_tot AS yc "
        "FROM idx, tot), "
        f"per(period, cosv, sinv) AS (VALUES {values}), "
        "e AS (SELECT n, period, "
        "yc * cosv[CAST((t - 1) % period + 1 AS INT)] AS pc, "
        "yc * sinv[CAST((t - 1) % period + 1 AS INT)] AS ps, "
        "yc * yc AS y2 FROM c, per), "
        "g AS (SELECT period, n, CAST(SUM(pc) AS DOUBLE) AS a, "
        "CAST(SUM(ps) AS DOUBLE) AS b, CAST(SUM(y2) AS DOUBLE) AS m2 "
        "FROM e GROUP BY 1, 2) "
        "SELECT period, CAST(n AS INT) AS n_months, "
        "ROUND(2.0 * sqrt(a * a + b * b) "
        "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e10), 4) AS amp, "
        "ROUND(2.0 * (a * a + b * b) "
        "/ (CAST(n AS DOUBLE) * m2 * 1e12), 6) AS var_share "
        "FROM g ORDER BY period"
    )


ORACLE["timeseries_periodogram"] = _pgram_oracle_sql()


# --- Wald–Wolfowitz runs test --------------------------------------------------


def timeseries_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Wald–Wolfowitz runs test** (Ann. Math. Stat. 1940) on the
    direction sequence of each priority's monthly revenue: are the
    up/down moves random, or do they cluster (trend/momentum) or
    alternate (mean-reversion)? The hypothesis-test companion of
    `timeseries_acf` (which measures the correlation; this tests the
    sign sequence) and the diagnostic a forecaster runs on
    `timeseries_seasonal_naive_mase`'s residual direction.

    R = observed runs, n1/n2 = up/down counts, and under H0:
    mu = 1 + 2*n1*n2/n, var = 2*n1*n2*(2*n1*n2 - n) / (n^2 * (n-1)),
    z = (R - mu)/sqrt(var). Zero-diff months are dropped (ties carry
    no direction) — identically in both engines.

    Determinism: signs compare exact scaled ints; R/n1/n2 are exact
    counts; mu/var are fixed-shape double expressions over small exact
    integers; one sqrt; `dround` 6. Groups without both signs or with
    var = 0 drop out on integer predicates in both engines.

    Scale: one corpus-sized rollup, then two stacked windows ordered by
    the original month key over ~80-row series, one aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    w = Window.partitionBy("priority").orderBy("mon")
    signs = (
        m.select(
            "priority",
            "mon",
            (F.col("rev_s") - F.lag("rev_s").over(w)).alias("diff"),
        )
        .filter(F.col("diff").isNotNull() & (F.col("diff") != 0))
        .select(
            "priority",
            "mon",
            F.when(F.col("diff") > 0, F.lit(1)).otherwise(F.lit(-1)).alias(
                "sign"
            ),
        )
    )
    w2 = Window.partitionBy("priority").orderBy("mon")
    runs = signs.select(
        "priority",
        "sign",
        F.when(F.lag("sign").over(w2).isNull(), F.lit(1))
        .when(F.lag("sign").over(w2) != F.col("sign"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    agg = runs.groupBy("priority").agg(
        F.sum("new_run").alias("r_runs"),
        F.sum(F.when(F.col("sign") > 0, F.lit(1)).otherwise(F.lit(0))).alias(
            "n_up"
        ),
        F.sum(F.when(F.col("sign") < 0, F.lit(1)).otherwise(F.lit(0))).alias(
            "n_down"
        ),
    )
    n = F.col("n_up") + F.col("n_down")
    two_ab = F.lit(2) * F.col("n_up") * F.col("n_down")
    n_d = n.cast("double")
    mu = F.lit(1.0) + two_ab.cast("double") / n_d
    var = (two_ab * (two_ab - n)).cast("double") / (
        n_d * n_d * (n_d - F.lit(1.0))
    )
    return (
        agg.filter(
            (F.col("n_up") > 0)
            & (F.col("n_down") > 0)
            & (n > 2)
            & (two_ab * (two_ab - n) > 0)
        )
        .select(
            "priority",
            n.cast("int").alias("n_moves"),
            F.col("n_up").cast("int").alias("n_up"),
            F.col("n_down").cast("int").alias("n_down"),
            F.col("r_runs").cast("int").alias("runs"),
            dround(mu, 6).alias("expected_runs"),
            dround(
                (F.col("r_runs").cast("double") - mu) / F.sqrt(var), 6
            ).alias("z_score"),
        )
        .orderBy("priority")
    )


QUERIES["timeseries_runs_test"] = timeseries_runs_test

ORACLE["timeseries_runs_test"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "date_trunc('month', o_orderdate) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "d AS (SELECT priority, mon, rev_s - LAG(rev_s) OVER ("
    "PARTITION BY priority ORDER BY mon) AS diff FROM m), "
    "sgn AS (SELECT priority, mon, "
    "CASE WHEN diff > 0 THEN 1 ELSE -1 END AS sign "
    "FROM d WHERE diff IS NOT NULL AND diff <> 0), "
    "rn AS (SELECT priority, sign, "
    "CASE WHEN LAG(sign) OVER (PARTITION BY priority ORDER BY mon) "
    "IS NULL THEN 1 WHEN LAG(sign) OVER (PARTITION BY priority "
    "ORDER BY mon) <> sign THEN 1 ELSE 0 END AS new_run FROM sgn), "
    "a AS (SELECT priority, CAST(SUM(new_run) AS BIGINT) AS r_runs, "
    "CAST(SUM(CASE WHEN sign > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up, "
    "CAST(SUM(CASE WHEN sign < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down "
    "FROM rn GROUP BY 1) "
    "SELECT priority, "
    "CAST(n_up + n_down AS INT) AS n_moves, "
    "CAST(n_up AS INT) AS n_up, CAST(n_down AS INT) AS n_down, "
    "CAST(r_runs AS INT) AS runs, "
    "ROUND(1.0 + CAST(2 * n_up * n_down AS DOUBLE) "
    "/ CAST(n_up + n_down AS DOUBLE), 6) AS expected_runs, "
    "ROUND((CAST(r_runs AS DOUBLE) - (1.0 + "
    "CAST(2 * n_up * n_down AS DOUBLE) "
    "/ CAST(n_up + n_down AS DOUBLE))) "
    "/ sqrt(CAST((2 * n_up * n_down) * (2 * n_up * n_down "
    "- (n_up + n_down)) AS DOUBLE) / (CAST(n_up + n_down AS DOUBLE) "
    "* CAST(n_up + n_down AS DOUBLE) "
    "* (CAST(n_up + n_down AS DOUBLE) - 1.0))), 6) AS z_score "
    "FROM a WHERE n_up > 0 AND n_down > 0 AND n_up + n_down > 2 "
    "AND (2 * n_up * n_down) * (2 * n_up * n_down - (n_up + n_down)) > 0 "
    "ORDER BY priority"
)


# --- Ljung–Box portmanteau test ------------------------------------------------

LB_SCALE = 1_000_000_000_000  # 1e12: per-lag term quantization


def timeseries_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Ljung–Box portmanteau test** (Biometrika 1978): Q = n(n+2) ·
    Σ_{k=1..h} ρ_k²/(n−k) over the first h=12 autocorrelations of each
    priority's monthly revenue — the one-number "is there ANY serial
    correlation?" summary of `timeseries_acf`'s correlogram (compare Q
    to χ²(h); df is emitted, the critical value is the reader's table
    lookup).

    Determinism: ρ_k = num_k/den is a division of the ACF operator's
    exact 128-bit integer sums; the per-lag terms ρ_k²/(n−k) are each
    quantized to scaled int64 (×1e12, ties-away — `dsum_scaled`) so the
    cross-lag SUM is exact integer arithmetic, never an order-dependent
    float accumulation; Q is then one fixed-shape double expression.

    Scale: identical to `timeseries_acf` — corpus-sized work is the
    monthly rollup; the lag self-join fans out ≤ h rows per month."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    num, den = _acf_sums(m, ACF_MAX_LAG)
    rho = F.col("num").cast("double") / F.col("den").cast("double")
    term = rho * rho / (F.col("n") - F.col("lag_k")).cast("double")
    per = (
        num.join(den, "priority")
        .groupBy("priority", "n")
        .agg(
            dsum_scaled(term, LB_SCALE).alias("t_s"),
            F.count(F.lit(1)).alias("df"),
        )
    )
    return per.select(
        "priority",
        F.col("n").cast("int").alias("n_months"),
        F.col("df").cast("int").alias("df"),
        dround(
            (F.col("n") * (F.col("n") + F.lit(2))).cast("double")
            * F.col("t_s").cast("double")
            / F.lit(float(LB_SCALE)),
            6,
        ).alias("q_stat"),
    ).orderBy("priority")


QUERIES["timeseries_ljung_box"] = timeseries_ljung_box

ORACLE["timeseries_ljung_box"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "date_trunc('month', o_orderdate) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "z AS (SELECT priority, "
    "COUNT(*) OVER (PARTITION BY priority) AS n, "
    "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) AS rn, "
    "COUNT(*) OVER (PARTITION BY priority) * rev_s "
    "- SUM(rev_s) OVER (PARTITION BY priority) AS z FROM m), "
    "den AS (SELECT priority, n, SUM(z * z) AS den "
    "FROM z GROUP BY 1, 2), "
    "num AS (SELECT a.priority, CAST(a.rn - b.rn AS INT) AS lag_k, "
    "SUM(a.z * b.z) AS num FROM z a JOIN z b "
    f"ON a.priority = b.priority AND a.rn - b.rn BETWEEN 1 AND {ACF_MAX_LAG} "
    "GROUP BY 1, 2), "
    "per AS (SELECT num.priority, den.n, "
    "CAST(SUM(CAST(ROUND((CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) "
    "* (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) "
    f"/ CAST(den.n - lag_k AS DOUBLE) * {LB_SCALE}) AS BIGINT)) "
    "AS BIGINT) AS t_s, "
    "CAST(COUNT(*) AS BIGINT) AS df "
    "FROM num JOIN den ON num.priority = den.priority GROUP BY 1, 2) "
    "SELECT priority, CAST(n AS INT) AS n_months, CAST(df AS INT) AS df, "
    "ROUND(CAST(n * (n + 2) AS DOUBLE) * CAST(t_s AS DOUBLE) "
    f"/ {float(LB_SCALE)}, 6) AS q_stat "
    "FROM per ORDER BY priority"
)


# --- Cross-correlation function between two monthly series ------------------------

CCF_MAX_LAG = 6
CCF_X = "1-URGENT"
CCF_Y = "5-LOW"


def timeseries_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Sample cross-correlation function** (Box & Jenkins 1970 §11.1)
    between the URGENT and LOW monthly revenue series at lags −6..+6 —
    does one priority's revenue LEAD the other? Positive lag k means
    x (URGENT) at month t pairs with y (LOW) at month t−k, so a peak
    at k>0 reads "LOW leads URGENT by k months". The two-series
    companion of `timeseries_acf`, sharing its exactness device.

    Determinism: on the COMMON month spine (inner join), with
    zx_t = n·x_t − Σx and zy_t = n·y_t − Σy exact int64, the textbook
    r_k = Σ(x_{t}−x̄)(y_{t−k}−ȳ) / √(Σ(x−x̄)²·Σ(y−ȳ)²) equals
    Σ zx_t·zy_{t−k} / √(Σzx²·Σzy²) — every n² cancels — so the
    numerator is an exact integer sum (DECIMAL ≡ HUGEINT) and the two
    denominator moments cast to double BEFORE their product (the
    Spearman posture; the exact product would overflow 128 bits at
    100x). One division + one sqrt per lag, `dround` 6.

    Scale: corpus-sized work is the monthly rollup; the lag pairing is
    a ≤13-fanout range self-join on the ~80-row spine."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(
        orders.filter(F.col("o_orderpriority").isin(CCF_X, CCF_Y)),
        F.col("o_orderpriority").alias("priority"),
    )
    xs = m.filter(F.col("priority") == CCF_X).select(
        "mon", F.col("rev_s").alias("x")
    )
    ys = m.filter(F.col("priority") == CCF_Y).select(
        "mon", F.col("rev_s").alias("y")
    )
    spine = xs.join(ys, "mon")
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("mon")
    z = spine.select(
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.row_number().over(w_ord).alias("rn"),
        (F.count(F.lit(1)).over(w_all) * F.col("x") - F.sum("x").over(w_all))
        .cast("decimal(18,0)")
        .alias("zx"),
        (F.count(F.lit(1)).over(w_all) * F.col("y") - F.sum("y").over(w_all))
        .cast("decimal(18,0)")
        .alias("zy"),
    )
    den = z.groupBy("n").agg(
        F.sum(F.col("zx") * F.col("zx")).alias("dx"),
        F.sum(F.col("zy") * F.col("zy")).alias("dy"),
    )
    a, b = z.alias("a"), z.alias("b")
    num = (
        a.join(
            b,
            (F.col("a.rn") - F.col("b.rn")).between(
                -CCF_MAX_LAG, CCF_MAX_LAG
            ),
        )
        .groupBy(
            (F.col("a.rn") - F.col("b.rn")).cast("int").alias("lag_k")
        )
        .agg(
            F.sum(F.col("a.zx") * F.col("b.zy")).alias("num"),
            F.count(F.lit(1)).alias("n_overlap"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "lag_k",
            F.col("n_overlap").cast("long").alias("n_overlap"),
            dround(
                F.col("num").cast("double")
                / F.sqrt(
                    F.col("dx").cast("double") * F.col("dy").cast("double")
                ),
                6,
            ).alias("ccf"),
            dround(
                F.lit(1.96) / F.sqrt(F.col("n").cast("double")), 6
            ).alias("ci95"),
        )
        .orderBy("lag_k")
    )


QUERIES["timeseries_ccf"] = timeseries_ccf

ORACLE["timeseries_ccf"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "date_trunc('month', o_orderdate) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders "
    f"WHERE o_orderpriority IN ('{CCF_X}', '{CCF_Y}') GROUP BY 1, 2), "
    f"xs AS (SELECT mon, rev_s AS x FROM m WHERE priority = '{CCF_X}'), "
    f"ys AS (SELECT mon, rev_s AS y FROM m WHERE priority = '{CCF_Y}'), "
    "spine AS (SELECT xs.mon, x, y FROM xs JOIN ys ON xs.mon = ys.mon), "
    "z AS (SELECT CAST(COUNT(*) OVER () AS BIGINT) AS n, "
    "ROW_NUMBER() OVER (ORDER BY mon) AS rn, "
    "CAST(COUNT(*) OVER () * x - SUM(x) OVER () AS HUGEINT) AS zx, "
    "CAST(COUNT(*) OVER () * y - SUM(y) OVER () AS HUGEINT) AS zy "
    "FROM spine), "
    "den AS (SELECT n, CAST(SUM(zx * zx) AS HUGEINT) AS dx, "
    "CAST(SUM(zy * zy) AS HUGEINT) AS dy FROM z GROUP BY n), "
    "num AS (SELECT CAST(a.rn - b.rn AS INT) AS lag_k, "
    "CAST(SUM(a.zx * b.zy) AS HUGEINT) AS num, "
    "CAST(COUNT(*) AS BIGINT) AS n_overlap "
    "FROM z a JOIN z b ON a.rn - b.rn "
    f"BETWEEN -{CCF_MAX_LAG} AND {CCF_MAX_LAG} GROUP BY 1) "
    "SELECT lag_k, n_overlap, "
    "ROUND(CAST(num AS DOUBLE) "
    "/ sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) AS ccf, "
    "ROUND(1.96 / sqrt(CAST(n AS DOUBLE)), 6) AS ci95 "
    "FROM num, den ORDER BY lag_k"
)


# --- AR(2) Yule-Walker fit off the exact correlogram -------------------------------


def timeseries_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Yule–Walker AR(2) fit** (Yule 1927; Walker 1931) of each
    priority's monthly revenue series — the first MODEL on top of
    `timeseries_acf`'s diagnostics, in the closed 2×2 form:
    φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²), with the innovation
    variance share σ²/c₀ = 1 − φ₁r₁ − φ₂r₂.

    Determinism: r₁/r₂ ride the ACF's cleared-mean device — numerators
    Σz_t·z_{t−k} and denominator Σz² are exact integers — and are
    QUANTIZED at 12 dp (scaled-int longs) before the φ algebra, so the
    rational functions run on identical inputs in both engines;
    φ/σ² are fixed-shape double expressions of those two quantized
    values, `dround` 6. Series with a degenerate lag structure
    (|1−r₁²| quantized to 0) are filtered on the exact long in both
    engines.

    Scale: identical to the ACF — the corpus-sized work is the monthly
    rollup; the fit runs on one row per priority."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    num, den = _acf_sums(m, 2)
    rq = (
        num.join(den, "priority")
        .select(
            "priority",
            "n",
            "lag_k",
            dround(
                F.lit(1e12)
                * F.col("num").cast("double")
                / F.col("den").cast("double"),
                0,
            )
            .cast("long")
            .alias("rq"),
        )
    )
    wide = rq.groupBy("priority", "n").agg(
        F.sum(F.when(F.col("lag_k") == 1, F.col("rq"))).alias("r1q"),
        F.sum(F.when(F.col("lag_k") == 2, F.col("rq"))).alias("r2q"),
    )
    r1 = F.col("r1q").cast("double") / F.lit(1e12)
    r2 = F.col("r2q").cast("double") / F.lit(1e12)
    # exact degeneracy filter: 1 - r1^2 == 0 at 12-dp quantization
    # (1e24 and r1q^2 exceed int64 — the comparison runs in decimal ≡
    # HUGEINT)

    den_q = d38(F.lit(10**12)) * F.lit(10**12) - d38(
        F.col("r1q")
    ) * F.col("r1q")
    phi1 = r1 * (F.lit(1.0) - r2) / (F.lit(1.0) - r1 * r1)
    phi2 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    return (
        wide.filter(den_q != 0)
        .select(
            "priority",
            F.col("n").cast("long").alias("n_months"),
            dround(r1, 6).alias("r1"),
            dround(r2, 6).alias("r2"),
            dround(phi1, 6).alias("phi1"),
            dround(phi2, 6).alias("phi2"),
            dround(
                F.lit(1.0) - phi1 * r1 - phi2 * r2, 6
            ).alias("innovation_var_share"),
        )
        .orderBy("priority")
    )


QUERIES["timeseries_ar2_yule_walker"] = timeseries_ar2_yule_walker

ORACLE["timeseries_ar2_yule_walker"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "date_trunc('month', o_orderdate) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "z AS (SELECT priority, "
    "CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT) AS n, "
    "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) AS rn, "
    "CAST(COUNT(*) OVER (PARTITION BY priority) * rev_s "
    "- SUM(rev_s) OVER (PARTITION BY priority) AS HUGEINT) AS z "
    "FROM m), "
    "den AS (SELECT priority, n, CAST(SUM(z * z) AS HUGEINT) AS den "
    "FROM z GROUP BY 1, 2), "
    "num AS (SELECT a.priority, CAST(a.rn - b.rn AS INT) AS lag_k, "
    "CAST(SUM(a.z * b.z) AS HUGEINT) AS num "
    "FROM z a JOIN z b ON a.priority = b.priority "
    "AND a.rn - b.rn BETWEEN 1 AND 2 GROUP BY 1, 2), "
    "rq AS (SELECT num.priority, den.n, lag_k, "
    "CAST(ROUND(1e12 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) "
    "AS BIGINT) AS rq FROM num JOIN den ON num.priority = den.priority), "
    "wide AS (SELECT priority, n, "
    "CAST(SUM(CASE WHEN lag_k = 1 THEN rq END) AS BIGINT) AS r1q, "
    "CAST(SUM(CASE WHEN lag_k = 2 THEN rq END) AS BIGINT) AS r2q "
    "FROM rq GROUP BY 1, 2), "
    "f AS (SELECT priority, n, "
    "CAST(r1q AS DOUBLE) / 1e12 AS r1, CAST(r2q AS DOUBLE) / 1e12 AS r2 "
    "FROM wide WHERE CAST(1000000000000 AS HUGEINT) * 1000000000000 "
    "- CAST(r1q AS HUGEINT) * r1q <> 0) "
    "SELECT priority, n AS n_months, "
    "ROUND(r1, 6) AS r1, ROUND(r2, 6) AS r2, "
    "ROUND(r1 * (1.0 - r2) / (1.0 - r1 * r1), 6) AS phi1, "
    "ROUND((r2 - r1 * r1) / (1.0 - r1 * r1), 6) AS phi2, "
    "ROUND(1.0 - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r1 "
    "- ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2, 6) "
    "AS innovation_var_share "
    "FROM f ORDER BY priority"
)


# --- Partial autocorrelation (lags 1-3) via Cramer determinants ---------------------

PACF_SCALE = 1_000_000  # 6-dp quantization of the ACF inputs


def timeseries_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Partial autocorrelation function** at lags 1–3 of each
    priority's monthly revenue (Box & Jenkins 1970 §3.2 — the AR-order
    identification plot read beside `timeseries_acf`): φ_kk is the
    last Yule–Walker coefficient of the order-k fit, here in CLOSED
    Cramer form so the whole computation is exact-integer polynomial
    algebra rather than a sequential Durbin–Levinson recursion:

        φ11 = a/S,  φ22 = (bS − a²)/(S² − a²),
        φ33 = (S²c − 2Sab + ab² + a³ − a²c) /
              (S³ − 2a²S + 2a²b − Sb²)

    with (a,b,c) the lag-1..3 autocorrelations QUANTIZED at S = 1e6
    (the `timeseries_ar2_yule_walker` device; the ACF numerators and
    denominator are themselves exact integers). Every polynomial term
    stays ≤ ~1e18·k (DECIMAL(38,0) ≡ HUGEINT); each φ is ONE double
    division, `dround` 6. Degenerate denominators filter on the exact
    integer in both engines.

    Scale: the ACF shape — monthly rollup, ≤3-fanout lag self-join,
    k-row algebra."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    num, den = _acf_sums(m, 3)
    rq = num.join(den, "priority").select(
        "priority",
        "lag_k",
        dround(
            F.lit(float(PACF_SCALE))
            * F.col("num").cast("double")
            / F.col("den").cast("double"),
            0,
        )
        .cast("long")
        .alias("rq"),
    )
    wide = rq.groupBy("priority").agg(
        F.sum(F.when(F.col("lag_k") == 1, F.col("rq"))).alias("a"),
        F.sum(F.when(F.col("lag_k") == 2, F.col("rq"))).alias("b"),
        F.sum(F.when(F.col("lag_k") == 3, F.col("rq"))).alias("c"),
    )

    s = F.lit(PACF_SCALE)
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    den2 = d38(s) * s - d38(a) * a
    num2 = d38(b) * s - d38(a) * a
    den3 = (
        d38(s) * s * s
        - F.lit(2) * d38(a) * a * s
        + F.lit(2) * d38(a) * a * b
        - d38(s) * b * b
    )
    num3 = (
        d38(s) * s * c
        - F.lit(2) * d38(s) * a * b
        + d38(a) * b * b
        + d38(a) * a * a
        - d38(a) * a * c
    )
    lags = F.array(
        F.struct(
            F.lit(1).alias("lag_k"),
            dround(a.cast("double") / s.cast("double"), 6).alias("pacf"),
        ),
        F.struct(
            F.lit(2).alias("lag_k"),
            dround(
                num2.cast("double") / den2.cast("double"), 6
            ).alias("pacf"),
        ),
        F.struct(
            F.lit(3).alias("lag_k"),
            dround(
                num3.cast("double") / den3.cast("double"), 6
            ).alias("pacf"),
        ),
    )
    return (
        wide.filter((den2 != 0) & (den3 != 0))
        .select("priority", F.explode(lags).alias("l"))
        .select("priority", F.col("l.lag_k").alias("lag_k"), F.col("l.pacf").alias("pacf"))
        .orderBy("priority", "lag_k")
    )


QUERIES["timeseries_pacf"] = timeseries_pacf

_PACF_BASE = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "date_trunc('month', o_orderdate) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "z AS (SELECT priority, "
    "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) AS rn, "
    "CAST(COUNT(*) OVER (PARTITION BY priority) * rev_s "
    "- SUM(rev_s) OVER (PARTITION BY priority) AS HUGEINT) AS z "
    "FROM m), "
    "den AS (SELECT priority, CAST(SUM(z * z) AS HUGEINT) AS den "
    "FROM z GROUP BY 1), "
    "num AS (SELECT a.priority, CAST(a.rn - b.rn AS INT) AS lag_k, "
    "CAST(SUM(a.z * b.z) AS HUGEINT) AS num "
    "FROM z a JOIN z b ON a.priority = b.priority "
    "AND a.rn - b.rn BETWEEN 1 AND 3 GROUP BY 1, 2), "
    "rq AS (SELECT num.priority, lag_k, "
    f"CAST(ROUND({PACF_SCALE}.0 * CAST(num AS DOUBLE) "
    "/ CAST(den AS DOUBLE)) AS BIGINT) AS rq "
    "FROM num JOIN den ON num.priority = den.priority), "
    "wide AS (SELECT priority, "
    "CAST(SUM(CASE WHEN lag_k = 1 THEN rq END) AS HUGEINT) AS a, "
    "CAST(SUM(CASE WHEN lag_k = 2 THEN rq END) AS HUGEINT) AS b, "
    "CAST(SUM(CASE WHEN lag_k = 3 THEN rq END) AS HUGEINT) AS c "
    "FROM rq GROUP BY 1), "
    f"f AS (SELECT priority, a, b, c, CAST({PACF_SCALE} AS HUGEINT) AS s "
    "FROM wide) "
)

ORACLE["timeseries_pacf"] = (
    _PACF_BASE
    + "SELECT priority, lag_k, pacf FROM ("
    "SELECT priority, 1 AS lag_k, "
    "ROUND(CAST(a AS DOUBLE) / CAST(s AS DOUBLE), 6) AS pacf FROM f "
    "WHERE s * s - a * a <> 0 "
    "AND s * s * s - 2 * a * a * s + 2 * a * a * b - s * b * b <> 0 "
    "UNION ALL "
    "SELECT priority, 2, "
    "ROUND(CAST(b * s - a * a AS DOUBLE) "
    "/ CAST(s * s - a * a AS DOUBLE), 6) FROM f "
    "WHERE s * s - a * a <> 0 "
    "AND s * s * s - 2 * a * a * s + 2 * a * a * b - s * b * b <> 0 "
    "UNION ALL "
    "SELECT priority, 3, "
    "ROUND(CAST(s * s * c - 2 * s * a * b + a * b * b + a * a * a "
    "- a * a * c AS DOUBLE) "
    "/ CAST(s * s * s - 2 * a * a * s + 2 * a * a * b - s * b * b "
    "AS DOUBLE), 6) FROM f "
    "WHERE s * s - a * a <> 0 "
    "AND s * s * s - 2 * a * a * s + 2 * a * a * b - s * b * b <> 0) "
    "ORDER BY priority, lag_k"
)


# --- AR(1) mean-reversion fit + half-life off the monthly revenue series --------------


def timeseries_ar1_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**AR(1) fit + mean-reversion half-life** of the monthly total
    revenue series: regress y_t on y_{t-1} by OLS, report phi (the
    lag-1 persistence), the implied intercept, and the Ornstein-
    Uhlenbeck-style half-life ln(1/2)/ln(phi) — "how many months for a
    shock to decay halfway back" (Hamilton, *Time Series Analysis*
    §4; the mean-reversion diagnostic quants run right after the ACF,
    whose lag-1 bar this turns into months).

    Determinism: with z_x = n*x - SUM(x) (the mean-centering cleared of
    /n, the `timeseries_acf` device), phi = SUM(z_x*z_y)/SUM(z_x^2) —
    the n^2 cancels — so numerator and denominator are EXACT integer
    sums (decimal(18,0) products -> decimal(38) in Spark == HUGEINT in
    DuckDB). The stationarity gate 0 < phi < 1 filters on the exact
    integers (0 < num < den), never on a rounded double; each emitted
    double is one fixed-shape expression off the exact sums (`dround`).

    Scale: corpus-sized work is the monthly rollup (map-side partial
    over orders); the lag pairing and the five sums run on the
    ~80-row monthly frame. Same int64 envelope as `timeseries_acf`."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, rev="y_s")
    w_lag = Window.orderBy("mon")
    pairs = m.select(
        F.col("y_s").alias("y"), F.lag("y_s").over(w_lag).alias("x")
    ).filter(F.col("x").isNotNull())
    w_all = Window.partitionBy()
    z = pairs.select(
        F.count(F.lit(1)).over(w_all).alias("n"),
        (F.count(F.lit(1)).over(w_all) * F.col("x") - F.sum("x").over(w_all))
        .cast("decimal(18,0)")
        .alias("zx"),
        (F.count(F.lit(1)).over(w_all) * F.col("y") - F.sum("y").over(w_all))
        .cast("decimal(18,0)")
        .alias("zy"),
        F.col("x"),
        F.col("y"),
    )
    s = z.groupBy("n").agg(
        F.sum(F.col("zx") * F.col("zy")).alias("num"),
        F.sum(F.col("zx") * F.col("zx")).alias("den"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    nd = F.col("n").cast("double")
    phi = F.col("num").cast("double") / F.col("den").cast("double")
    intercept = (
        (F.col("sy").cast("double") - phi * F.col("sx").cast("double"))
        / nd
        / 10000.0
    )
    # phi/intercept always emitted; the half-life only exists on a
    # stationary positive-persistence fit, gated in EXACT integer space
    # (0 < num < den). Spark ln(x<=0) is NULL (never aborts); DuckDB
    # ln(x<=0) ERRORS, so the oracle gates with a lazy CASE (rule 4).
    return s.filter(F.col("den") > 0).select(
        F.col("n").cast("long").alias("n_pairs"),
        dround(phi, 6).alias("phi"),
        dround(intercept, 4).alias("intercept_monthly"),
        dround(
            F.when(
                (F.col("num") > 0) & (F.col("num") < F.col("den")),
                F.log(F.lit(0.5)) / F.log(phi),
            ),
            6,
        ).alias("halflife_months"),
    )


QUERIES["timeseries_ar1_halflife"] = timeseries_ar1_halflife

ORACLE["timeseries_ar1_halflife"] = (
    "WITH m AS (SELECT date_trunc('month', o_orderdate) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS y_s FROM orders GROUP BY 1), "
    "p AS (SELECT y_s AS y, LAG(y_s) OVER (ORDER BY mon) AS x FROM m), "
    "q AS (SELECT x, y FROM p WHERE x IS NOT NULL), "
    "z AS (SELECT COUNT(*) OVER () AS n, "
    "CAST(COUNT(*) OVER () * x - SUM(x) OVER () AS HUGEINT) AS zx, "
    "CAST(COUNT(*) OVER () * y - SUM(y) OVER () AS HUGEINT) AS zy, "
    "x, y FROM q), "
    "s AS (SELECT n, SUM(zx * zy) AS num, SUM(zx * zx) AS den, "
    "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy "
    "FROM z GROUP BY n) "
    "SELECT CAST(n AS BIGINT) AS n_pairs, "
    "ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS phi, "
    "ROUND((CAST(sy AS DOUBLE) - CAST(num AS DOUBLE) "
    "/ CAST(den AS DOUBLE) * CAST(sx AS DOUBLE)) "
    "/ CAST(n AS DOUBLE) / 10000.0, 4) AS intercept_monthly, "
    "ROUND(CASE WHEN num > 0 AND num < den THEN "
    "ln(0.5) / ln(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) END, 6) "
    "AS halflife_months "
    "FROM s WHERE den > 0"
)


# --- FPP seasonal/trend strength off the classical decomposition ----------------------


def timeseries_seasonal_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Trend and seasonal strength** (Hyndman & Athanasopoulos FPP
    §4.3; the STL-features pair every forecasting triage starts with):
    F_trend = max(0, 1 − Var(R)/Var(T+R)) and F_seasonal = max(0,
    1 − Var(R)/Var(S+R)) per priority, computed off the SAME exact
    integer components as `timeseries_classical_decompose` (T+R = the
    deseasonalized series, S+R = the detrended series — both already
    exact by that operator's construction).

    Determinism: all three series re-express in ONE common integer
    unit (1/(6e6·n_moy) dollars — the lcm of the trend's 24·1e4 and
    the centered seasonal's n_moy·1e6 scales), so each variance
    numerator n·Σv²−(Σv)² is EXACT (decimal(18,0)² -> decimal(38) ≡
    HUGEINT; the common n cancels in the ratio); each strength is one
    division + `greatest(0, 1−·)` of fixed-shape doubles, `dround` 6.
    Degenerate variances filter on the exact integers.

    Scale: identical physical shape to the decompose (one monthly
    rollup, one window exchange per series, a broadcast seasonal
    join); the variance rollup adds one map-side-combinable
    aggregate over the ~80-row overlap frame."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    joined = _trend_seasonal(m)
    s_cent = F.col("n_moy") * F.col("s_micro") - F.col("tot_micro")
    u = joined.select(
        "priority",
        (25 * F.col("n_moy") * F.col("d24") - 6 * s_cent)
        .cast("decimal(18,0)")
        .alias("r_u"),
        (25 * F.col("n_moy") * F.col("d24")).cast("decimal(18,0)").alias("d_u"),
        (600 * F.col("n_moy") * F.col("rev_s") - 6 * s_cent)
        .cast("decimal(18,0)")
        .alias("ys_u"),
    )
    a = u.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r_u").alias("sr"),
        F.sum(F.col("r_u") * F.col("r_u")).alias("srr"),
        F.sum("d_u").alias("sd"),
        F.sum(F.col("d_u") * F.col("d_u")).alias("sdd"),
        F.sum("ys_u").alias("sy"),
        F.sum(F.col("ys_u") * F.col("ys_u")).alias("syy"),
    )
    n_dec = F.col("n").cast("decimal(12,0)")
    var_r = n_dec * F.col("srr") - F.col("sr") * F.col("sr")
    var_d = n_dec * F.col("sdd") - F.col("sd") * F.col("sd")
    var_ys = n_dec * F.col("syy") - F.col("sy") * F.col("sy")
    return a.filter((var_d > 0) & (var_ys > 0)).select(
        "priority",
        F.col("n").cast("long").alias("n_months"),
        dround(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0) - var_r.cast("double") / var_ys.cast("double"),
            ),
            6,
        ).alias("f_trend"),
        dround(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0) - var_r.cast("double") / var_d.cast("double"),
            ),
            6,
        ).alias("f_seasonal"),
    ).orderBy("priority")


QUERIES["timeseries_seasonal_strength"] = timeseries_seasonal_strength

ORACLE["timeseries_seasonal_strength"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "w AS (SELECT priority, mon, rev_s, "
    "COUNT(*) OVER win11 AS cnt11, "
    "CAST(SUM(rev_s) OVER win11 AS BIGINT) AS sum11, "
    "LAG(rev_s, 6) OVER wino AS lag6, "
    "LEAD(rev_s, 6) OVER wino AS lead6 "
    "FROM m WINDOW wino AS (PARTITION BY priority ORDER BY mon), "
    "win11 AS (PARTITION BY priority ORDER BY mon "
    "ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)), "
    "t AS (SELECT priority, mon, rev_s, MONTH(mon) AS moy, "
    "24 * rev_s - (2 * sum11 + lag6 + lead6) AS d24 "
    "FROM w WHERE cnt11 = 11 AND lag6 IS NOT NULL "
    "AND lead6 IS NOT NULL), "
    "s AS (SELECT priority, moy, CAST(SUM(d24) AS BIGINT) AS sum_d, "
    "COUNT(*) AS cnt FROM t GROUP BY 1, 2), "
    "sm AS (SELECT priority, moy, CASE WHEN sum_d >= 0 "
    "THEN (2 * abs(25 * sum_d) + 6 * cnt) // (12 * cnt) "
    "ELSE -((2 * abs(25 * sum_d) + 6 * cnt) // (12 * cnt)) END "
    "AS s_micro FROM s), "
    "sc AS (SELECT priority, moy, s_micro, "
    "COUNT(*) OVER (PARTITION BY priority) AS n_moy, "
    "CAST(SUM(s_micro) OVER (PARTITION BY priority) AS BIGINT) "
    "AS tot_micro FROM sm), "
    "u AS (SELECT t.priority, "
    "CAST(25 * sc.n_moy * t.d24 "
    "- 6 * (sc.n_moy * sc.s_micro - sc.tot_micro) AS HUGEINT) AS r_u, "
    "CAST(25 * sc.n_moy * t.d24 AS HUGEINT) AS d_u, "
    "CAST(600 * sc.n_moy * t.rev_s "
    "- 6 * (sc.n_moy * sc.s_micro - sc.tot_micro) AS HUGEINT) AS ys_u "
    "FROM t JOIN sc ON t.priority = sc.priority AND t.moy = sc.moy), "
    "a AS (SELECT priority, CAST(COUNT(*) AS HUGEINT) AS n, "
    "SUM(r_u) AS sr, SUM(r_u * r_u) AS srr, "
    "SUM(d_u) AS sd, SUM(d_u * d_u) AS sdd, "
    "SUM(ys_u) AS sy, SUM(ys_u * ys_u) AS syy FROM u GROUP BY 1), "
    "v AS (SELECT priority, n, "
    "n * srr - sr * sr AS var_r, "
    "n * sdd - sd * sd AS var_d, "
    "n * syy - sy * sy AS var_ys FROM a) "
    "SELECT priority, CAST(n AS BIGINT) AS n_months, "
    "ROUND(GREATEST(0.0, 1.0 - CAST(var_r AS DOUBLE) "
    "/ CAST(var_ys AS DOUBLE)), 6) AS f_trend, "
    "ROUND(GREATEST(0.0, 1.0 - CAST(var_r AS DOUBLE) "
    "/ CAST(var_d AS DOUBLE)), 6) AS f_seasonal "
    "FROM v WHERE var_d > 0 AND var_ys > 0 ORDER BY priority"
)


# --- KPSS level-stationarity statistic per priority ------------------------------------


def timeseries_kpss_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**KPSS level-stationarity statistic** (Kwiatkowski, Phillips,
    Schmidt & Shin 1992) per monthly revenue series: η = Σ S_t² /
    (n²·σ̂²) with S_t the partial sums of demeaned revenue — the
    stationarity-null counterpart of the unit-root view
    (`timeseries_ar1_halflife` fits mean reversion; KPSS asks whether
    the level is stable at all — the triage that decides differencing
    before any ARIMA-family fit). Lag-0 (i.i.d.) long-run variance by
    CONTRACT — deterministic, no HAC bandwidth choice; the classical
    5% critical value 0.463 is emitted with a reject flag.

    Determinism: denominators clear by n — n·e_t = n·y_t − Σy and its
    partial sums are exact integers (DECIMAL(38,0) ≡ HUGEINT), and
    η = Σ(n·S_t)² / (n · Σ(n·e_t)²) algebraically, so the statistic
    is ONE division of exact integers, `dround` 6; the reject flag
    compares the identical unrounded double in both engines.

    Scale: one corpus-sized monthly rollup; one window
    exchange+sort per priority serves both the totals and the running
    partial sum."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    w_n = Window.partitionBy("priority")
    t = m.select(
        "priority",
        "mon",
        "rev_s",
        F.count(F.lit(1)).over(w_n).alias("n"),
        F.sum(F.col("rev_s").cast("decimal(38,0)")).over(w_n).alias("sy"),
    )
    ne = (
        F.col("n").cast("decimal(38,0)") * F.col("rev_s") - F.col("sy")
    ).alias("ne")
    t2 = t.select("priority", "mon", "n", ne)
    w_cum = Window.partitionBy("priority").orderBy("mon")
    t3 = t2.select(
        "priority",
        "n",
        "ne",
        F.sum("ne").over(w_cum).alias("ns"),
    )
    agg = t3.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_months"),
        F.sum(F.col("ns") * F.col("ns")).alias("q_ns"),
        F.sum(F.col("ne") * F.col("ne")).alias("q_ne"),
    )
    eta = F.col("q_ns").cast("double") / (
        F.col("n_months").cast("double") * F.col("q_ne").cast("double")
    )
    return (
        agg.filter(F.col("q_ne") > 0)
        .select(
            "priority",
            "n_months",
            dround(eta, 6).alias("kpss_eta"),
            F.lit(0.463).alias("crit_5pct"),
            (eta > F.lit(0.463)).cast("int").alias("reject_level_stat"),
        )
        .orderBy("priority")
    )


QUERIES["timeseries_kpss_stat"] = timeseries_kpss_stat

ORACLE["timeseries_kpss_stat"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "t AS (SELECT priority, mon, rev_s, "
    "CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT) AS n, "
    "SUM(CAST(rev_s AS HUGEINT)) OVER (PARTITION BY priority) AS sy "
    "FROM m), "
    "t2 AS (SELECT priority, mon, n, "
    "CAST(n AS HUGEINT) * rev_s - sy AS ne FROM t), "
    "t3 AS (SELECT priority, n, ne, "
    "SUM(ne) OVER (PARTITION BY priority ORDER BY mon) AS ns FROM t2), "
    "a AS (SELECT priority, CAST(MAX(n) AS BIGINT) AS n_months, "
    "SUM(ns * ns) AS q_ns, SUM(ne * ne) AS q_ne FROM t3 GROUP BY 1) "
    "SELECT priority, n_months, "
    "ROUND(CAST(q_ns AS DOUBLE) / (CAST(n_months AS DOUBLE) "
    "* CAST(q_ne AS DOUBLE)), 6) AS kpss_eta, "
    "0.463 AS crit_5pct, "
    "CAST(CAST(q_ns AS DOUBLE) / (CAST(n_months AS DOUBLE) "
    "* CAST(q_ne AS DOUBLE)) > 0.463 AS INT) AS reject_level_stat "
    "FROM a WHERE q_ne > 0 ORDER BY priority"
)


# --- Durbin-Watson autocorrelation-of-residuals diagnostic -----------------------------


def timeseries_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Durbin-Watson statistic** (Durbin & Watson 1950) on the
    residuals of the per-priority monthly OLS trend: DW =
    Σ(e_t−e_{t−1})²/Σe_t² — the standard "did the linear fit leave
    serial correlation behind" diagnostic that decides whether
    `window_rolling_ols_slope`'s trend lines can be trusted or an
    AR term (`timeseries_ar1_halflife`) is needed. DW ≈ 2(1−ρ̂₁); the
    implied ρ̂ is emitted beside it.

    Determinism: the OLS coefficients come from exact integer normal-
    equation sums (the `timeseries_theta_forecast` device); each
    residual y_t − a − b·t is the identical double in both engines and
    quantizes to int64 (sub-unit absolute error on a 1e12-scale
    series), so both quadratic forms are exact DECIMAL(38,0) ≡ HUGEINT
    sums and DW is ONE division, `dround` 6.

    Scale: one corpus-sized monthly rollup; one window exchange per
    priority serves the index, the moment sums, the residual, and the
    lag."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(
        orders, F.col("o_orderpriority").alias("priority"), rev="y"
    )
    w_ord = Window.partitionBy("priority").orderBy("mon")
    w_p = Window.partitionBy("priority")
    t1 = m.select(
        "priority",
        "mon",
        "y",
        F.row_number().over(w_ord).cast("long").alias("t"),
    )

    t2 = t1.select(
        "priority",
        "mon",
        "y",
        "t",
        F.count(F.lit(1)).over(w_p).alias("n"),
        F.sum("t").over(w_p).alias("st"),
        F.sum(F.col("t") * F.col("t")).over(w_p).alias("st2"),
        F.sum(d38("y")).over(w_p).alias("sy"),
        F.sum(d38("t") * F.col("y")).over(w_p).alias("sty"),
    )
    num = d38("n") * F.col("sty") - d38("st") * F.col("sy")
    den = d38("n") * F.col("st2") - d38("st") * F.col("st")
    b_s = num.cast("double") / den.cast("double")
    a_s = (
        F.col("sy").cast("double") - b_s * F.col("st").cast("double")
    ) / F.col("n").cast("double")
    e_q = _nearest_long_away(
        F.col("y").cast("double") - (a_s + b_s * F.col("t").cast("double"))
    )
    t3 = t2.select("priority", "mon", "n", e_q.alias("e"))
    t4 = t3.select(
        "priority",
        "n",
        "e",
        F.lag("e").over(w_ord).alias("e_prev"),
    )
    d = F.col("e") - F.col("e_prev")
    agg = t4.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_months"),
        F.sum(d38("e") * F.col("e")).alias("q_e"),
        F.sum(
            F.when(F.col("e_prev").isNotNull(), d38(d) * d).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("q_d"),
    )
    dw = F.col("q_d").cast("double") / F.col("q_e").cast("double")
    return (
        agg.filter(F.col("q_e") > 0)
        .select(
            "priority",
            "n_months",
            dround(dw, 6).alias("durbin_watson"),
            dround(F.lit(1.0) - dw / F.lit(2.0), 6).alias("rho_implied"),
        )
        .orderBy("priority")
    )


QUERIES["timeseries_durbin_watson"] = timeseries_durbin_watson

ORACLE["timeseries_durbin_watson"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS y FROM orders GROUP BY 1, 2), "
    "t1 AS (SELECT priority, mon, y, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) "
    "AS BIGINT) AS t FROM m), "
    "t2 AS (SELECT priority, mon, y, t, "
    "CAST(COUNT(*) OVER w AS BIGINT) AS n, "
    "CAST(SUM(t) OVER w AS BIGINT) AS st, "
    "CAST(SUM(t * t) OVER w AS BIGINT) AS st2, "
    "SUM(CAST(y AS HUGEINT)) OVER w AS sy, "
    "SUM(CAST(t AS HUGEINT) * y) OVER w AS sty "
    "FROM t1 WINDOW w AS (PARTITION BY priority)), "
    "t3 AS (SELECT priority, mon, n, "
    "CAST(ROUND(CAST(y AS DOUBLE) - ("
    "(CAST(sy AS DOUBLE) - CAST(CAST(n AS HUGEINT) * sty "
    "- CAST(st AS HUGEINT) * sy AS DOUBLE) "
    "/ CAST(CAST(n AS HUGEINT) * st2 - CAST(st AS HUGEINT) * st "
    "AS DOUBLE) * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) "
    "+ CAST(CAST(n AS HUGEINT) * sty - CAST(st AS HUGEINT) * sy "
    "AS DOUBLE) / CAST(CAST(n AS HUGEINT) * st2 "
    "- CAST(st AS HUGEINT) * st AS DOUBLE) * CAST(t AS DOUBLE))) "
    "AS BIGINT) AS e FROM t2), "
    "t4 AS (SELECT priority, n, e, "
    "LAG(e) OVER (PARTITION BY priority ORDER BY mon) AS e_prev "
    "FROM t3), "
    "a AS (SELECT priority, CAST(MAX(n) AS BIGINT) AS n_months, "
    "SUM(CAST(e AS HUGEINT) * e) AS q_e, "
    "SUM(CASE WHEN e_prev IS NOT NULL THEN "
    "CAST(e - e_prev AS HUGEINT) * (e - e_prev) "
    "ELSE CAST(0 AS HUGEINT) END) AS q_d FROM t4 GROUP BY 1) "
    "SELECT priority, n_months, "
    "ROUND(CAST(q_d AS DOUBLE) / CAST(q_e AS DOUBLE), 6) "
    "AS durbin_watson, "
    "ROUND(1.0 - CAST(q_d AS DOUBLE) / CAST(q_e AS DOUBLE) / 2.0, 6) "
    "AS rho_implied "
    "FROM a WHERE q_e > 0 ORDER BY priority"
)


# --- Mann-Kendall nonparametric trend test ----------------------------------------------


def timeseries_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Mann-Kendall trend test** (Mann 1945; Kendall 1975 — the
    hydrology-standard nonparametric monotone-trend test) per monthly
    revenue series: S = Σ_{i<j} sgn(y_j − y_i), tie-corrected variance
    Var = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18, and the
    continuity-corrected z — the distribution-free companion of
    `agg_linear_trend`'s OLS slope (MK sees any monotone trend, not
    just linear, and ignores outlier magnitude entirely); Kendall's
    τ-a = 2S/(n(n−1)) is emitted beside it (the same concordance
    algebra as `agg_kendall_tau`, here against TIME).

    Determinism: pair generation strictly AFTER the monthly rollup
    (the `agg_theil_sen_trend` posture — O(n²) in series length, not
    row count; the tiny rollup is localCheckpoint-ed so the corpus
    aggregate runs once, not once per join side); S, the tie sum and
    18·Var are exact integers; z and τ are fixed-shape doubles off
    exact ints, `dround` 6.

    Scale: one corpus-sized monthly rollup, then all pair work on the
    ~month-count frame."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(
        orders, F.col("o_orderpriority").alias("priority"), rev="y"
    ).localCheckpoint(eager=True)
    a = m.select(
        "priority", F.col("mon").alias("mi"), F.col("y").alias("yi")
    )
    b = m.select(
        "priority", F.col("mon").alias("mj"), F.col("y").alias("yj")
    )
    pairs = a.join(b, "priority").filter(F.col("mi") < F.col("mj"))
    sgn = F.when(F.col("yj") > F.col("yi"), 1).otherwise(
        F.when(F.col("yj") < F.col("yi"), -1).otherwise(0)
    )
    s_f = pairs.groupBy("priority").agg(
        F.sum(sgn).cast("long").alias("s")
    )
    nf = m.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ties = (
        m.groupBy("priority", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("priority")
        .agg(
            F.sum(
                F.col("t")
                * (F.col("t") - F.lit(1))
                * (F.lit(2) * F.col("t") + F.lit(5))
            )
            .cast("long")
            .alias("tie_sum")
        )
    )
    j = s_f.join(nf, "priority").join(ties, "priority")
    n = F.col("n")
    var18 = (
        n * (n - F.lit(1)) * (F.lit(2) * n + F.lit(5)) - F.col("tie_sum")
    )
    sd = F.sqrt(var18.cast("double") / F.lit(18.0))
    s_d = F.col("s").cast("double")
    z = F.when(F.col("s") > 0, (s_d - F.lit(1.0)) / sd).otherwise(
        F.when(F.col("s") < 0, (s_d + F.lit(1.0)) / sd).otherwise(
            F.lit(0.0)
        )
    )
    tau = F.lit(2.0) * s_d / (
        n.cast("double") * (n.cast("double") - F.lit(1.0))
    )
    return (
        j.filter(var18 > 0)
        .select(
            "priority",
            F.col("n").alias("n_months"),
            F.col("s").alias("s_stat"),
            var18.cast("long").alias("var18"),
            dround(tau, 6).alias("kendall_tau_a"),
            dround(z, 6).alias("mk_z"),
        )
        .orderBy("priority")
    )


QUERIES["timeseries_mann_kendall"] = timeseries_mann_kendall

ORACLE["timeseries_mann_kendall"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS y FROM orders GROUP BY 1, 2), "
    "p AS (SELECT a.priority, "
    "CAST(SUM(CASE WHEN b.y > a.y THEN 1 "
    "WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s "
    "FROM m a JOIN m b ON b.priority = a.priority AND a.mon < b.mon "
    "GROUP BY 1), "
    "nf AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n FROM m "
    "GROUP BY 1), "
    "ties AS (SELECT priority, "
    "CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum FROM "
    "(SELECT priority, y, CAST(COUNT(*) AS BIGINT) AS t FROM m "
    "GROUP BY 1, 2) GROUP BY 1), "
    "j AS (SELECT p.priority, s, n, "
    "n * (n - 1) * (2 * n + 5) - tie_sum AS var18 "
    "FROM p JOIN nf USING (priority) JOIN ties USING (priority)) "
    "SELECT priority, n AS n_months, s AS s_stat, "
    "CAST(var18 AS BIGINT) AS var18, "
    "ROUND(2.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) "
    "* (CAST(n AS DOUBLE) - 1.0)), 6) AS kendall_tau_a, "
    "ROUND(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) "
    "/ sqrt(CAST(var18 AS DOUBLE) / 18.0) "
    "WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) "
    "/ sqrt(CAST(var18 AS DOUBLE) / 18.0) ELSE 0.0 END, 6) AS mk_z "
    "FROM j WHERE var18 > 0 ORDER BY priority"
)


# --- Seasonal subseries table (month-of-year profile) ----------------------------------------


def timeseries_seasonal_subseries(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Seasonal subseries table** (the numbers behind Cleveland's
    seasonal-subseries plot; FPP §2.4): for each priority × calendar
    month, the mean revenue across years, its deviation from the
    priority's overall monthly mean, and the min/max range across
    years — the tabulated answer to the reference dashboard's "is
    there a seasonal pattern?" panel that `timeseries_periodogram`
    scores spectrally and `timeseries_classical_decompose` extracts
    additively; this is the view an analyst actually reads.

    Determinism: all sums are exact 1e4-scaled int64; the subseries
    mean and the grand monthly mean are single divisions of exact
    ints; the deviation is a fixed-shape difference of those two
    quotients, `dround` 4.

    Scale: one corpus-sized monthly rollup; one 12·k-row rollup with
    a window for the grand mean."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, F.col("o_orderpriority").alias("priority"))
    g = m.groupBy(
        "priority", F.month("mon").cast("int").alias("monum")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_years"),
        F.sum("rev_s").cast("long").alias("s"),
        F.min("rev_s").cast("long").alias("mn"),
        F.max("rev_s").cast("long").alias("mx"),
    )
    w_p = Window.partitionBy("priority")
    t = g.select(
        "priority",
        "monum",
        "n_years",
        "s",
        "mn",
        "mx",
        F.sum("s").over(w_p).alias("s_all"),
        F.sum("n_years").over(w_p).alias("n_all"),
    )
    sub_mean = F.col("s").cast("double") / F.col("n_years").cast(
        "double"
    ) / F.lit(10_000.0)
    grand = F.col("s_all").cast("double") / F.col("n_all").cast(
        "double"
    ) / F.lit(10_000.0)
    return t.select(
        "priority",
        "monum",
        "n_years",
        dround(sub_mean, 4).alias("subseries_mean"),
        dround(sub_mean - grand, 4).alias("seasonal_deviation"),
        F.round(F.col("mn") / 10_000.0, 4).alias("min_revenue"),
        F.round(F.col("mx") / 10_000.0, 4).alias("max_revenue"),
    ).orderBy("priority", "monum")


QUERIES["timeseries_seasonal_subseries"] = timeseries_seasonal_subseries

ORACLE["timeseries_seasonal_subseries"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "g AS (SELECT priority, CAST(month(mon) AS INT) AS monum, "
    "CAST(COUNT(*) AS BIGINT) AS n_years, "
    "CAST(SUM(rev_s) AS BIGINT) AS s, "
    "CAST(MIN(rev_s) AS BIGINT) AS mn, "
    "CAST(MAX(rev_s) AS BIGINT) AS mx FROM m GROUP BY 1, 2), "
    "t AS (SELECT *, SUM(s) OVER (PARTITION BY priority) AS s_all, "
    "SUM(n_years) OVER (PARTITION BY priority) AS n_all FROM g) "
    "SELECT priority, monum, n_years, "
    "ROUND(CAST(s AS DOUBLE) / CAST(n_years AS DOUBLE) / 10000.0, 4) "
    "AS subseries_mean, "
    "ROUND(CAST(s AS DOUBLE) / CAST(n_years AS DOUBLE) / 10000.0 "
    "- CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE) / 10000.0, 4) "
    "AS seasonal_deviation, "
    "ROUND(CAST(mn AS DOUBLE) / 10000.0, 4) AS min_revenue, "
    "ROUND(CAST(mx AS DOUBLE) / 10000.0, 4) AS max_revenue "
    "FROM t ORDER BY priority, monum"
)


def timeseries_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Page-Hinkley drift detection** per monthly revenue series
    (Page 1954 §5; the standard concept-drift monitor in streaming-ML
    references, e.g. Gama et al. 2014 §3.2): ``PH_T = Σ_{t≤T} (x_t −
    x̄_t − δ)`` against the RUNNING mean ``x̄_t``, alarming when
    ``PH_T − min_{t≤T} PH_t > λ``. Unlike `timeseries_cusum_changepoints`
    (whose reset-at-zero clamp forces a grouped-map recurrence), PH has
    NO recurrence: running mean, cumulative sum and running minimum are
    all plain window frames — the whole detector is one exchange+sort
    with four frame aggregates on the same WindowSpec.

    δ = μ/64, λ = μ/4 — exact power-of-two scalings of the 4-dp series
    mean, the `timeseries_cusum_changepoints` convention (deterministic,
    no sigma estimate).

    Determinism: revenue sums are exact scaled ints; ``x̄_t = S_t/t``
    is the identical double division; each deviation term quantizes to
    round(term·1e4) int64 BEFORE the cumulative sum, so PH and its
    running min are exact integer prefix aggregates (no float
    accumulation order anywhere).

    Scale: one monthly rollup (map-side combinable), then one
    priority-partitioned window over the calendar-bounded frame."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    monthly = monthly_revenue(
        orders, F.col("o_orderpriority").alias("priority")
    )
    # the full-series mean comes from a whole-partition frame over the
    # SAME (priority, mon-ordered) window exchange the cumulative
    # frames use — a separate groupBy + join would re-execute the
    # monthly rollup (double reference, plan audit round 15)
    w_cum = (
        Window.partitionBy("priority")
        .orderBy("mon")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = (
        Window.partitionBy("priority")
        .orderBy("mon")
        .rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    pre = monthly.select(
        "priority",
        "mon",
        "rev_s",
        dround(
            F.sum("rev_s").over(w_all).cast("double")
            / 10000.0
            / F.count(F.lit(1)).over(w_all).cast("double"),
            4,
        ).alias("mu"),
        F.sum("rev_s").over(w_cum).cast("long").alias("s_cum"),
        F.count(F.lit(1)).over(w_cum).cast("long").alias("i"),
    )
    term_q = _nearest_long_away(
        (
            F.col("rev_s").cast("double") / 10000.0
            - F.col("s_cum").cast("double")
            / 10000.0
            / F.col("i").cast("double")
            - F.col("mu") / 64.0
        )
        * 10000.0
    )
    staged = pre.select(
        "priority", "mon", "rev_s", "mu", term_q.alias("tq")
    )
    cum = staged.select(
        "priority",
        "mon",
        "rev_s",
        "mu",
        F.sum("tq").over(w_cum).cast("long").alias("ph_q"),
    )
    ranked = cum.select(
        "priority",
        "mon",
        "rev_s",
        "mu",
        "ph_q",
        F.min("ph_q").over(w_cum).cast("long").alias("ph_min_q"),
    )
    return ranked.select(
        "priority",
        "mon",
        dround(F.col("rev_s").cast("double") / 10000.0, 4).alias(
            "revenue"
        ),
        dround(F.col("ph_q").cast("double") / 10000.0, 4).alias("ph"),
        dround(F.col("ph_min_q").cast("double") / 10000.0, 4).alias(
            "ph_min"
        ),
        (
            (F.col("ph_q") - F.col("ph_min_q")).cast("double") / 10000.0
            > F.col("mu") / 4.0
        )
        .cast("int")
        .alias("alarm"),
    ).orderBy("priority", "mon")


QUERIES["timeseries_page_hinkley"] = timeseries_page_hinkley

ORACLE["timeseries_page_hinkley"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "st AS (SELECT priority, "
    "ROUND(CAST(SUM(rev_s) AS DOUBLE) / 10000.0 / COUNT(*), 4) AS mu "
    "FROM m GROUP BY 1), "
    "pre AS (SELECT m.priority, m.mon, m.rev_s, st.mu, "
    "CAST(SUM(m.rev_s) OVER w AS BIGINT) AS s_cum, "
    "CAST(COUNT(*) OVER w AS BIGINT) AS i "
    "FROM m JOIN st ON m.priority = st.priority "
    "WINDOW w AS (PARTITION BY m.priority ORDER BY m.mon "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
    "stg AS (SELECT priority, mon, rev_s, mu, "
    "CAST(ROUND((CAST(rev_s AS DOUBLE) / 10000.0 "
    "- CAST(s_cum AS DOUBLE) / 10000.0 / CAST(i AS DOUBLE) "
    "- mu / 64.0) * 10000.0) AS BIGINT) AS tq FROM pre), "
    "cum AS (SELECT priority, mon, rev_s, mu, "
    "CAST(SUM(tq) OVER w AS BIGINT) AS ph_q FROM stg "
    "WINDOW w AS (PARTITION BY priority ORDER BY mon "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
    "rk AS (SELECT priority, mon, rev_s, mu, ph_q, "
    "CAST(MIN(ph_q) OVER w AS BIGINT) AS ph_min_q FROM cum "
    "WINDOW w AS (PARTITION BY priority ORDER BY mon "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
    "SELECT priority, mon, "
    "ROUND(CAST(rev_s AS DOUBLE) / 10000.0, 4) AS revenue, "
    "ROUND(CAST(ph_q AS DOUBLE) / 10000.0, 4) AS ph, "
    "ROUND(CAST(ph_min_q AS DOUBLE) / 10000.0, 4) AS ph_min, "
    "CAST(CAST(ph_q - ph_min_q AS DOUBLE) / 10000.0 > mu / 4.0 "
    "AS INT) AS alarm "
    "FROM rk ORDER BY priority, mon"
)
