"""Statistical tests, effect sizes, inequality/concentration indices,
and data-quality profiling over the TPC-H-ish fixtures (split out of
``analytics.py`` in round 14; keys and semantics unchanged).
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
from ..functions.ranks import top_k
from ..functions.timeparts import (
    epoch_micros_from_ntz,
    monthly_partials,
    monthly_revenue,
)
from ..io import read_table

QUERIES: dict = {}
ORACLE: dict = {}



def norm_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clipped) normalization per event type — the standard
    outlier-robust preprocessing before feeding a measure to a model:
    the bottom/top 5% of values are clamped to the 5th/95th order
    statistic and the clipped mean reported alongside the clip bounds
    and clip counts.

    Thresholds are ORDER STATISTICS (the value at integer rank
    ``k + 1`` / ``n - k`` with ``k = n*5 div 100``), not interpolated
    percentiles: rank arithmetic is integer-exact, so the clip bounds
    are actual data values and every downstream comparison is
    bitwise-portable across engines (an interpolated threshold's last
    ulp could flip a comparison for a value sitting exactly on the
    boundary). All three windows (rank, count, threshold-pick) share the
    ``event_type`` partition key → Catalyst plans ONE exchange + sort.
    At 100 TB the same clip semantics run off ``approx_percentile``
    sketch thresholds (see ``agg_approx_percentiles``) instead of the
    per-group sort; groups here are event types, so the sort
    parallelizes across groups."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number()
        .over(w.orderBy("value", "event_id"))
        .cast("long")
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).withColumn("k", F.expr("(n * 5) div 100"))
    # project rn/n/k BEFORE the threshold windows (analyzer trap: window
    # expressions over window outputs need an intermediate projection)
    thr = ranked.select(
        "event_type",
        "value",
        "rn",
        "n",
        "k",
        F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("value"))).over(w).alias("lo"),
        F.max(F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("value"))).over(w).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        thr.groupBy("event_type")
        .agg(
            F.max("n").alias("n_values"),
            F.max("k").alias("k_clip"),
            F.round(F.max("lo"), 4).alias("clip_lo"),
            F.round(F.max("hi"), 4).alias("clip_hi"),
            F.sum((F.col("rn") <= F.col("k")).cast("long")).alias("n_clipped_low"),
            F.sum((F.col("rn") > F.col("n") - F.col("k")).cast("long")).alias(
                "n_clipped_high"
            ),
            F.round(davg(clipped), 4).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


QUERIES["norm_winsorize_clip"] = norm_winsorize_clip

ORACLE["norm_winsorize_clip"] = (
    "WITH r AS (SELECT event_type, value, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY event_type "
    "ORDER BY value, event_id) AS BIGINT) AS rn, "
    "COUNT(*) OVER (PARTITION BY event_type) AS n "
    "FROM events WHERE value IS NOT NULL), "
    "kk AS (SELECT *, (n * 5) // 100 AS k FROM r), "
    "t AS (SELECT *, "
    "MAX(CASE WHEN rn = k + 1 THEN value END) "
    "OVER (PARTITION BY event_type) AS lo, "
    "MAX(CASE WHEN rn = n - k THEN value END) "
    "OVER (PARTITION BY event_type) AS hi FROM kk) "
    "SELECT event_type, MAX(n) AS n_values, MAX(k) AS k_clip, "
    "ROUND(MAX(lo), 4) AS clip_lo, ROUND(MAX(hi), 4) AS clip_hi, "
    "CAST(SUM(CASE WHEN rn <= k THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_clipped_low, "
    "CAST(SUM(CASE WHEN rn > n - k THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_clipped_high, "
    f"ROUND({davg_sql('LEAST(GREATEST(value, lo), hi)')}, 4) "
    "AS winsorized_mean "
    "FROM t GROUP BY event_type ORDER BY event_type"
)


def _month_indexed(spark: SparkSession, sf_dir: str, key) -> DataFrame:
    """Per-``key`` monthly revenue ``(key, x, y)`` of the two trend
    estimators: x the month index ``year*12 + month - 1`` centered on
    Jan 1995, y the scaled-int64 total (``monthly_partials``)."""
    m = monthly_partials(read_table(spark, sf_dir, "orders"), key)
    return m.select(
        m.columns[0],
        (F.year("ms") * 12 + F.month("ms") - 1 - F.lit(1995 * 12)).alias("x"),
        F.col("total_scaled").alias("y"),
    )


def agg_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment OLS trend of monthly order totals — the reference
    dashboard's "is employment trending up?" question as a closed-form
    aggregate. x is the month INDEX (year*12+month, exact integers), y
    the monthly scaled-int total; all four OLS sums (Sx, Sy, Sxy, Sxx)
    stay INTEGER until the single final division, so the slope is
    bitwise-portable with no accumulation-order exposure (the naive
    double Σxy differs per partition schedule at scale). x is CENTERED
    on a fixed base month (Jan 1995) before any product — uncentered,
    ``n*Sxy`` overflows int64 already at sf0.01 (x ~ 24k multiplies
    every money term by 2e4 for nothing; centering is the standard OLS
    conditioning trick and here it is exactness, not just conditioning).
    The per-month money rollup is the scaled-int64 ``dsum_scaled``
    (bounded per month — ~5.6e14 at sf100, comfortably int64); the
    FOUR OLS SUMS run as DECIMAL(38,0) — still exact integers, matching
    DuckDB's HUGEINT sums, and immune to the int64 ceiling the cross
    products would hit around sf70 (Sy·Sx ~ 1e19). Decimal cost is nil:
    the outer aggregate sees only O(months x segments) rows. Two
    shuffles total: the month rollup, then that tiny per-segment
    aggregate. The intercept is reported AT THE BASE MONTH
    (x = 0 ⇔ Jan 1995)."""
    monthly = _month_indexed(spark, sf_dir, "o_orderpriority")
    dec = "decimal(38,0)"
    n = F.count(F.lit(1)).cast(dec)
    sx = F.sum(F.col("x").cast(dec))
    sy = F.sum(F.col("y").cast(dec))
    sxy = F.sum(F.col("x").cast(dec) * F.col("y").cast(dec))
    sxx = F.sum(F.col("x").cast(dec) * F.col("x").cast(dec))
    # exact integer differences, ONE double division, then descale 1e4
    slope = (
        (n * sxy - sx * sy).cast("double")
        / (n * sxx - sx * sx).cast("double")
        / 10_000.0
    )
    intercept = (
        sy.cast("double") / 10_000.0 - slope * sx.cast("double")
    ) / n.cast("double")
    # a single-month segment has no slope (0/0 → NaN, and NaN compares
    # unequal to itself across engines) — guard to NULL; x is the group
    # key so n >= 2 implies distinct x and a nonzero denominator
    enough = F.count(F.lit(1)) >= 2
    return (
        monthly.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.when(enough, F.round(slope, 4)).alias("slope_per_month"),
            F.when(enough, F.round(intercept, 4)).alias("intercept_at_base"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES["agg_linear_trend"] = agg_linear_trend

ORACLE["agg_linear_trend"] = (
    "WITH m AS (SELECT o_orderpriority, "
    "CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 "
    f"- {1995 * 12} AS BIGINT) AS x, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) AS y "
    "FROM orders GROUP BY 1, 2) "
    "SELECT o_orderpriority, COUNT(*) AS n_months, "
    "CASE WHEN COUNT(*) >= 2 THEN "
    "ROUND(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE) "
    "/ CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE) "
    "/ 10000.0, 4) END AS slope_per_month, "
    "CASE WHEN COUNT(*) >= 2 THEN "
    "ROUND((CAST(SUM(y) AS DOUBLE) / 10000.0 "
    "- (CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE) "
    "/ CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE) / 10000.0) "
    "* CAST(SUM(x) AS DOUBLE)) / COUNT(*), 4) END AS intercept_at_base "
    "FROM m GROUP BY 1 ORDER BY 1"
)


def string_collation_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 **string collations** (`collate(s, 'UTF8_LCASE')`):
    comparison/grouping semantics attached to the string TYPE rather
    than wrapped in `lower()` calls at every use site. The demo derives
    a mixed-case label from `c_mktsegment` (odd custkeys initcap'd),
    then counts distinct labels and equality matches under binary vs
    case-insensitive collation — semantics a `lower()`-twin oracle
    replays exactly, so the collation path is hash-checked.

    At scale collation-aware grouping hashes the collation KEY (one
    pass, same shuffle as any groupBy); the win is correctness-by-type:
    a case-insensitive join can't be forgotten at one of nine call
    sites. (ICU locale collations exist too; UTF8_LCASE is the
    deterministic engine-portable one, which is why it is the
    oracle-checkable choice.)"""
    customer = read_table(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 1, F.initcap("c_mktsegment")
    ).otherwise(F.col("c_mktsegment"))
    lab = customer.select(F.col("c_custkey"), mixed.alias("label"))
    ci = F.collate(F.col("label"), "UTF8_LCASE")
    return lab.agg(
        F.countDistinct("label").alias("distinct_binary"),
        F.countDistinct(ci).alias("distinct_lcase"),
        F.sum((ci == F.lit("BUILDING")).cast("long")).alias("ci_eq_building"),
        F.sum((F.col("label") == F.lit("BUILDING")).cast("long")).alias(
            "bin_eq_building"
        ),
    )


QUERIES["string_collation_compare"] = string_collation_compare

ORACLE["string_collation_compare"] = (
    "WITH lab AS (SELECT c_custkey, CASE WHEN c_custkey % 2 = 1 "
    "THEN upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2)) "
    "ELSE c_mktsegment END AS label FROM customer) "
    "SELECT COUNT(DISTINCT label) AS distinct_binary, "
    "COUNT(DISTINCT lower(label)) AS distinct_lcase, "
    "CAST(SUM(CASE WHEN lower(label) = lower('BUILDING') THEN 1 ELSE 0 END) "
    "AS BIGINT) AS ci_eq_building, "
    "CAST(SUM(CASE WHEN label = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS bin_eq_building FROM lab"
)


def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **Benford's-law first-digit audit** (Benford 1938;
    the standard forensic-accounting screen, Nigrini 2012): the leading
    digit of naturally occurring amounts should follow
    ``P(d) = log10(1 + 1/d)``; a synthetic or truncated money column
    drifts from it. Emits the 9-row digit table — observed count, share,
    Benford share, absolute deviation — over ``o_totalprice``, with a
    1-9 spine LEFT JOIN so absent digits still audit (share 0, full
    deviation). One conditional aggregate over the scan; the 9-row spine
    and total are broadcast scalars.

    Determinism: digit extraction is integer/string (first char of the
    floored amount), shares are exact-int ratios rounded at 6 dp, and
    ``log10(1+1/d)`` evaluates on the same 9 doubles in both engines.
    """
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = orders.agg(F.count(F.lit(1)).alias("tot"))
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    share = F.col("n") / F.col("tot")
    return (
        spine.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            dround(
                F.coalesce(share, F.lit(0.0)), 6
            ).alias("obs_share"),
            dround(benford, 6).alias("benford_share"),
            dround(
                F.abs(F.coalesce(share, F.lit(0.0)) - benford), 6
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


QUERIES["dq_benford_first_digit"] = dq_benford_first_digit

ORACLE["dq_benford_first_digit"] = (
    "WITH o AS (SELECT o_totalprice FROM orders WHERE o_totalprice > 0), "
    "obs AS (SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) "
    "AS VARCHAR), 1, 1) AS INT) AS digit, COUNT(*) AS n "
    "FROM o GROUP BY 1), "
    "tot AS (SELECT COUNT(*) AS tot FROM o), "
    "spine AS (SELECT CAST(i AS INT) AS digit FROM range(1, 10) t(i)) "
    "SELECT spine.digit, CAST(COALESCE(obs.n, 0) AS BIGINT) AS n, "
    "ROUND(COALESCE(obs.n * 1.0 / tot, 0.0), 6) AS obs_share, "
    "ROUND(LOG10(1.0 + 1.0 / spine.digit), 6) AS benford_share, "
    "ROUND(ABS(COALESCE(obs.n * 1.0 / tot, 0.0) - "
    "LOG10(1.0 + 1.0 / spine.digit)), 6) AS abs_dev "
    "FROM spine LEFT JOIN obs ON obs.digit = spine.digit, tot "
    "ORDER BY 1"
)


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **RFM customer segmentation** (Hughes 1994, the
    classic BI scoring the reference's dashboard genre feeds): per
    customer, Recency (days since last order, against the corpus max
    date), Frequency (order count), Monetary (scaled-int revenue sum),
    each scored 1-5 against the corpus 20/40/60/80 quantiles, composed
    into the familiar ``rfm_code``.

    Scale shape — the `sample_quantile_threshold_cut` device, not a
    global ntile: quintile thresholds are ONE scalar aggregate over the
    per-customer rollup (exact interpolated ``percentile`` ≡
    ``quantile_cont``, rounded 6 dp), broadcast back as a 1-row join;
    scores are four strict-greater comparisons. No single-partition
    window anywhere; recency deltas are exact integer epoch-day
    arithmetic (timezone-free, rule 6a).
    """
    from ..functions.numerics import dsum
    from ..functions.timeparts import epoch_micros_from_ntz

    orders = read_table(spark, sf_dir, "orders")
    day = F.floor(
        epoch_micros_from_ntz(F.col("o_orderdate")) / 86_400_000_000
    ).cast("long")
    per_cust = orders.groupBy(
        F.col("o_custkey").alias("custkey")
    ).agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(dsum("o_totalprice"), 4).alias("monetary"),
    )
    maxd = orders.agg(F.max(day).alias("max_day"))
    rfm = per_cust.crossJoin(F.broadcast(maxd)).select(
        "custkey",
        (F.col("max_day") - F.col("last_day")).alias("recency_days"),
        "frequency",
        "monetary",
    )
    qs = rfm.agg(
        *[
            F.round(F.percentile(c, F.lit(p)), 6).alias(f"{c}_q{int(p*100)}")
            for c in ("recency_days", "frequency", "monetary")
            for p in (0.2, 0.4, 0.6, 0.8)
        ]
    )

    def score(c: str, invert: bool) -> F.Column:
        s = F.lit(1)
        for p in (20, 40, 60, 80):
            s = s + (F.col(c) > F.col(f"{c}_q{p}")).cast("int")
        # recency: more days = worse -> invert to 5 = most recent
        return (F.lit(6) - s) if invert else s

    return (
        rfm.crossJoin(F.broadcast(qs))
        .select(
            "custkey",
            "recency_days",
            "frequency",
            "monetary",
            score("recency_days", True).alias("r_score"),
            score("frequency", False).alias("f_score"),
            score("monetary", False).alias("m_score"),
        )
        .withColumn(
            "rfm_code",
            F.concat_ws(
                "", F.col("r_score"), F.col("f_score"), F.col("m_score")
            ),
        )
        .orderBy("custkey")
    )


QUERIES["rfm_segmentation"] = rfm_segmentation

ORACLE["rfm_segmentation"] = (
    "WITH o AS (SELECT o_custkey, "
    "CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS day, "
    "o_totalprice FROM orders), "
    "pc AS (SELECT o_custkey AS custkey, MAX(day) AS last_day, "
    "COUNT(*) AS frequency, "
    "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) "
    "AS DOUBLE) / 10000.0, 4) AS monetary FROM o GROUP BY 1), "
    "mx AS (SELECT MAX(day) AS max_day FROM o), "
    "rfm AS (SELECT custkey, max_day - last_day AS recency_days, "
    "frequency, monetary FROM pc, mx), "
    "qs AS (SELECT "
    + ", ".join(
        f"ROUND(quantile_cont({c}, {p}), 6) AS {c}_q{int(p * 100)}"
        for c in ("recency_days", "frequency", "monetary")
        for p in (0.2, 0.4, 0.6, 0.8)
    )
    + " FROM rfm), "
    "sc AS (SELECT custkey, recency_days, frequency, monetary, "
    "6 - (1 + CAST(recency_days > recency_days_q20 AS INT) + "
    "CAST(recency_days > recency_days_q40 AS INT) + "
    "CAST(recency_days > recency_days_q60 AS INT) + "
    "CAST(recency_days > recency_days_q80 AS INT)) AS r_score, "
    "1 + CAST(frequency > frequency_q20 AS INT) + "
    "CAST(frequency > frequency_q40 AS INT) + "
    "CAST(frequency > frequency_q60 AS INT) + "
    "CAST(frequency > frequency_q80 AS INT) AS f_score, "
    "1 + CAST(monetary > monetary_q20 AS INT) + "
    "CAST(monetary > monetary_q40 AS INT) + "
    "CAST(monetary > monetary_q60 AS INT) + "
    "CAST(monetary > monetary_q80 AS INT) AS m_score "
    "FROM rfm, qs) "
    "SELECT custkey, recency_days, frequency, monetary, "
    "r_score, f_score, m_score, "
    "CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || "
    "CAST(m_score AS VARCHAR) AS rfm_code "
    "FROM sc ORDER BY custkey"
)


def abc_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **ABC / Pareto classification** (the 80/20 inventory
    analysis; Pareto 1896 via Juran's quality canon): parts ranked by
    revenue, cumulative revenue share computed in descending order, and
    classed A (first 70 % of revenue), B (to 90 %), C (tail) — the
    classic OLAP drill the reference's dashboard genre ships beside
    top-N.

    Scale: revenue reduces on the FACT table with one keyed aggregate;
    the ordered cumulative window runs over the part-level rollup
    (|parts| ≪ |lineitem| — dim-sized, like every corpus-stats window
    here), never over facts. The cumulative sum accumulates the SCALED
    INT revenue (exact, order-stable under the (revenue desc, partkey)
    total order), so shares are identical bit-for-bit cross-engine.
    """
    from pyspark.sql.window import Window

    from ..functions.numerics import dsum_scaled

    li = read_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        dsum_scaled(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("rev_s")
    )
    w = (
        Window.orderBy(F.col("rev_s").desc(), F.col("partkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = rev.agg(F.sum("rev_s").alias("tot_s"))
    cum = (
        rev.withColumn("cum_s", F.sum("rev_s").over(w))
        .crossJoin(F.broadcast(tot))
    )
    share = F.col("cum_s").cast("double") / F.col("tot_s")
    return cum.select(
        "partkey",
        F.round(F.col("rev_s") / 10000.0, 4).alias("revenue"),
        dround(share, 6).alias("cum_share"),
        F.when(share <= 0.70, F.lit("A"))
        .when(share <= 0.90, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    ).orderBy(F.col("revenue").desc(), F.col("partkey"))


QUERIES["abc_pareto_parts"] = abc_pareto_parts

ORACLE["abc_pareto_parts"] = (
    "WITH rev AS (SELECT l_partkey AS partkey, "
    "SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) "
    "AS BIGINT)) AS rev_s FROM lineitem GROUP BY 1), "
    "tot AS (SELECT SUM(rev_s) AS tot_s FROM rev), "
    "cum AS (SELECT partkey, rev_s, "
    "SUM(rev_s) OVER (ORDER BY rev_s DESC, partkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s "
    "FROM rev) "
    "SELECT partkey, "
    "ROUND(CAST(rev_s AS DOUBLE) / 10000.0, 4) AS revenue, "
    "ROUND(CAST(cum_s AS DOUBLE) / tot_s, 6) AS cum_share, "
    "CASE WHEN CAST(cum_s AS DOUBLE) / tot_s <= 0.70 THEN 'A' "
    "WHEN CAST(cum_s AS DOUBLE) / tot_s <= 0.90 THEN 'B' "
    "ELSE 'C' END AS abc_class "
    "FROM cum, tot ORDER BY revenue DESC, partkey"
)


def agg_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **Theil-Sen robust trend** per priority (Theil 1950;
    Sen, JASA 1968): slope = MEDIAN of all pairwise slopes
    ``(y_j − y_i)/(x_j − x_i)``, intercept = median of per-point
    ``y_i − slope·x_i`` — the outlier-resistant companion of
    `agg_linear_trend`'s OLS (one wild month moves OLS arbitrarily;
    Theil-Sen has a 29.3% breakdown point).

    Same series conventions as the OLS twin: x = exact month index
    centered on Jan 1995, y = scaled-int64 monthly revenue. The
    pairwise self-join is per-series with MONTHLY grain, so fan-out is
    bounded (~84 months → ~3.5k pairs per key) no matter how many
    fact rows feed the rollup — pairwise generation happens strictly
    AFTER the aggregate, which is the only reason an O(n²) estimator
    is sane at 100 TB (n is series length, not row count). Each pair
    slope is one double division of exact integer differences —
    bit-identical across engines — and the median is the same linear
    interpolation `agg_percentiles` already proves equivalent
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``)."""
    monthly = _month_indexed(
        spark, sf_dir, F.col("o_orderpriority").alias("priority")
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    slopes = a.join(
        b,
        (F.col("a.priority") == F.col("b.priority"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.priority").alias("priority"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("s"),
    )
    sl = slopes.groupBy("priority").agg(
        F.percentile("s", F.lit(0.5)).alias("slope_scaled"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    resid = monthly.join(F.broadcast(sl), "priority").select(
        "priority",
        "n_pairs",
        "slope_scaled",
        (
            (
                F.col("y").cast("double")
                - F.col("slope_scaled") * F.col("x").cast("double")
            )
            / 10_000.0
        ).alias("r"),
    )
    return (
        resid.groupBy("priority", "n_pairs", "slope_scaled")
        .agg(F.percentile("r", F.lit(0.5)).alias("icpt"))
        .select(
            "priority",
            F.round(F.col("slope_scaled") / 10_000.0, 6).alias("ts_slope"),
            F.round("icpt", 4).alias("ts_intercept"),
            "n_pairs",
        )
        .orderBy("priority")
    )


QUERIES["agg_theil_sen_trend"] = agg_theil_sen_trend

ORACLE["agg_theil_sen_trend"] = (
    "WITH m AS (SELECT o_orderpriority AS priority, "
    "year(o_orderdate) * 12 + month(o_orderdate) - 1 - (1995 * 12) AS x, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) AS y "
    "FROM orders GROUP BY 1, 2), "
    "p AS (SELECT a.priority, "
    "CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s "
    "FROM m a JOIN m b ON a.priority = b.priority AND a.x < b.x), "
    "sl AS (SELECT priority, quantile_cont(s, 0.5) AS slope_scaled, "
    "CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1), "
    "r AS (SELECT m.priority, sl.n_pairs, sl.slope_scaled, "
    "(CAST(m.y AS DOUBLE) - sl.slope_scaled * CAST(m.x AS DOUBLE)) "
    "/ 10000.0 AS r FROM m JOIN sl ON sl.priority = m.priority) "
    "SELECT priority, ROUND(slope_scaled / 10000.0, 6) AS ts_slope, "
    "ROUND(quantile_cont(r, 0.5), 4) AS ts_intercept, n_pairs "
    "FROM r GROUP BY priority, n_pairs, slope_scaled ORDER BY priority"
)


def dq_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **robust outlier detection by Median Absolute
    Deviation** per event type (Hampel 1974; the 1.4826 consistency
    constant makes MAD a σ estimate under normality): flag values with
    ``|x − median| > 3 · 1.4826 · MAD`` — the robust companion of
    `dq_anomaly_zscore`, whose mean/stddev are themselves dragged by
    the outliers they're meant to find (masking); the median/MAD pair
    has a 50% breakdown point.

    Two grouped exact medians (value, then absolute deviation) with the
    per-type medians broadcast back between them — at 100 TB exact
    medians per group become `approx_percentile` sketches (the
    documented KLL path of `agg_approx_percentiles`); the flagging
    comparison is identical either way. Medians interpolate identically
    across engines (`agg_percentiles` precedent); the threshold compare
    runs on the same doubles both engines derive, so the counts are
    exact — no rounding anywhere until the emitted rate."""
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad"),
        F.count(F.lit(1)).alias("n"),
    )
    flagged = ev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "med",
        "mad",
        "n",
        (
            F.abs(F.col("value") - F.col("med"))
            > F.lit(3.0) * (F.lit(1.4826) * F.col("mad"))
        ).cast("int").alias("is_out"),
    )
    return (
        flagged.groupBy("event_type", "med", "mad", "n")
        .agg(F.sum("is_out").alias("n_outliers"))
        .select(
            "event_type",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
            "n",
            dround(F.col("n_outliers") / F.col("n"), 6).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )


QUERIES["dq_anomaly_mad"] = dq_anomaly_mad

ORACLE["dq_anomaly_mad"] = (
    "WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med "
    "FROM events GROUP BY 1), "
    "mad AS (SELECT e.event_type, med.med, "
    "quantile_cont(abs(e.value - med.med), 0.5) AS mad, "
    "CAST(COUNT(*) AS BIGINT) AS n "
    "FROM events e JOIN med ON med.event_type = e.event_type "
    "GROUP BY 1, 2), "
    "f AS (SELECT e.event_type, mad.med, mad.mad, mad.n, "
    "CASE WHEN abs(e.value - mad.med) > 3.0 * (1.4826 * mad.mad) "
    "THEN 1 ELSE 0 END AS is_out "
    "FROM events e JOIN mad ON mad.event_type = e.event_type) "
    "SELECT event_type, ROUND(med, 4) AS med, ROUND(mad, 4) AS mad, "
    "CAST(SUM(is_out) AS BIGINT) AS n_outliers, n, "
    "ROUND(CAST(SUM(is_out) AS DOUBLE) / CAST(n AS DOUBLE), 6) "
    "AS outlier_rate "
    "FROM f GROUP BY event_type, med, mad, n ORDER BY event_type"
)


# --- Mann–Whitney U rank-sum test ----------------------------------------------

MW_GROUP_A = "1-URGENT"
MW_GROUP_B = "5-LOW"


def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Mann–Whitney U / Wilcoxon rank-sum test** (Ann. Math. Stat.
    1947): do URGENT and LOW orders draw from the same price
    distribution? The distribution-free two-sample test — the
    significance companion of `agg_percentiles`' descriptive contrast
    and the third member of the testing family (`timeseries_runs_test`,
    `timeseries_ljung_box`).

    Rank algebra kept EXACT by working in doubled units: with ties
    taking the average rank, 2·avgrank = 2·minrank + (t−1) is an exact
    integer (rank() gives minrank, a count window gives the tie size
    t), so the doubled rank sum R1d, U1d = R1d − n1(n1+1), and the tie
    correction T = Σ(t³−t) are all exact integers (DECIMAL(38,0) ≡
    HUGEINT for the cubes). The normal approximation
    z = (U1 − n1n2/2) / sqrt(n1n2/12 · ((n+1) − T/(n(n−1)))) is then
    one fixed-shape double expression; values are scaled-int prices so
    tie sets are identical across engines.

    Scale: one parallel groupBy(v) tally, then the two-level distributed
    prefix sum of `functions/ranks.py` for the exact doubled ranks —
    round 14 retired the global rank WINDOW here (a single-task sort of
    every row at any cluster size); every row-level rank quantity the
    test needs is a per-distinct-value sum, so the whole statistic
    collapses into ONE aggregate over the rank table (the former
    separate tie pass and its crossJoin fold in too)."""
    from ..functions.ranks import doubled_rank_by_value

    orders = read_table(spark, sf_dir, "orders")
    both = orders.filter(
        F.col("o_orderpriority").isin(MW_GROUP_A, MW_GROUP_B)
    ).select(
        (F.col("o_orderpriority") == MW_GROUP_A).alias("is_a"),
        dround(F.col("o_totalprice") * F.lit(10_000.0), 0)
        .cast("long")
        .alias("v"),
    )
    per_v = both.groupBy("v").agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(F.when(F.col("is_a"), F.lit(1)).otherwise(F.lit(0))).alias(
            "ca"
        ),
    )
    ranked = doubled_rank_by_value(spark, per_v, "v", "t")
    agg = ranked.agg(
        F.sum(F.col("ca") * F.col("dr")).alias("r1d"),
        F.sum("ca").alias("n1"),
        F.sum(F.col("t") - F.col("ca")).alias("n2"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("t3t"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    u1d = F.col("r1d") - n1 * (n1 + F.lit(1))
    n_d = n.cast("double")
    var = (
        (n1 * n2).cast("double")
        / F.lit(12.0)
        * (
            (n + F.lit(1)).cast("double")
            - F.col("t3t").cast("double")
            / (n_d * (n_d - F.lit(1.0)))
        )
    )
    return agg.select(
        n1.cast("long").alias("n_urgent"),
        n2.cast("long").alias("n_low"),
        (u1d.cast("double") / F.lit(2.0)).alias("u_stat"),
        dround(
            (u1d - n1 * n2).cast("double") / (F.lit(2.0) * F.sqrt(var)),
            6,
        ).alias("z_score"),
    )


QUERIES["agg_mann_whitney_u"] = agg_mann_whitney_u

ORACLE["agg_mann_whitney_u"] = (
    "WITH both_g AS (SELECT "
    f"o_orderpriority = '{MW_GROUP_A}' AS is_a, "
    "CAST(ROUND(o_totalprice * 10000.0) AS BIGINT) AS v "
    f"FROM orders WHERE o_orderpriority IN ('{MW_GROUP_A}', "
    f"'{MW_GROUP_B}')), "
    "r AS (SELECT is_a, v, RANK() OVER (ORDER BY v) AS minrank, "
    "COUNT(*) OVER (PARTITION BY v) AS t FROM both_g), "
    "a AS (SELECT CAST(SUM(CASE WHEN is_a THEN 2 * minrank + t - 1 END) "
    "AS BIGINT) AS r1d, "
    "CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
    "CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n2 "
    "FROM r), "
    "ties AS (SELECT CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) "
    "AS t3t FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t "
    "FROM both_g GROUP BY v)) "
    "SELECT n1 AS n_urgent, n2 AS n_low, "
    "CAST(r1d - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_stat, "
    "ROUND(CAST((r1d - n1 * (n1 + 1)) - n1 * n2 AS DOUBLE) "
    "/ (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0 "
    "* (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(t3t AS DOUBLE) "
    "/ (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0))))), 6) "
    "AS z_score "
    "FROM a, ties"
)


# --- Chi-square test of independence --------------------------------------------

CHI2_SCALE = 1_000_000  # per-cell term quantization


def _chi2_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact χ² of the order status × priority contingency table as
    one row ``(n, nr, nc, t_s)``: n the total, nr/nc the distinct row
    and column counts, ``t_s`` the cross-cell sum of each cell's
    (n·O − r·c)²/(n·r·c) quantized ×CHI2_SCALE (ties-away), so χ² =
    t_s / CHI2_SCALE. Shared by the χ² test and the effect sizes, so
    the two can never disagree on χ²."""
    orders = read_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_m = cells.groupBy("s").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("p").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("s").alias("nr"),
        F.countDistinct("p").alias("nc"),
    )
    joined = (
        cells.join(F.broadcast(rows_m), "s")
        .join(F.broadcast(cols_m), "p")
        .crossJoin(F.broadcast(tot))
    )
    n, o, r, c = (d38(x) for x in ("n", "o", "r", "c"))
    dev = n * o - r * c
    term = (dev * dev).cast("double") / (n * r * c).cast("double")
    return joined.groupBy("n", "nr", "nc").agg(
        dsum_scaled(term, CHI2_SCALE).alias("t_s")
    )


def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Pearson χ² test of independence** (Pearson 1900) between order
    STATUS and PRIORITY — is the priority mix different across
    statuses? The categorical member of the testing family
    (`timeseries_runs_test`, `timeseries_ljung_box`,
    `agg_mann_whitney_u`) and the significance layer over
    `crosstab_status_priority`'s contingency table.

    Algebra kept exact: with O_ij the observed counts, r_i/c_j the
    margins and n the total, each cell's (O−E)²/E equals
    (n·O_ij − r_i·c_j)² / (n·r_i·c_j) — numerator and denominator are
    exact integers (DECIMAL(38,0) ≡ HUGEINT; the square reaches ~1e26
    at 100x); each cell's double quotient quantizes to scaled int64
    (×1e6 ties-away) so the cross-cell sum is exact integer arithmetic,
    and χ² is one descale. df = (R−1)(C−1) from exact distinct counts.

    Scale: one map-side-combinable count aggregate over orders; margins
    are two ~cardinality-row aggregates broadcast back; the cell
    algebra runs on the R×C frame."""
    return (
        _chi2_status_priority(spark, sf_dir)
        .select(
            F.col("n").cast("long").alias("n_orders"),
            ((F.col("nr") - F.lit(1)) * (F.col("nc") - F.lit(1)))
            .cast("int")
            .alias("df"),
            dround(
                F.col("t_s").cast("double") / F.lit(float(CHI2_SCALE)), 6
            ).alias("chi2"),
        )
    )


QUERIES["agg_chi_square_independence"] = agg_chi_square_independence

ORACLE["agg_chi_square_independence"] = (
    "WITH cells AS (SELECT o_orderstatus AS s, o_orderpriority AS p, "
    "CAST(COUNT(*) AS BIGINT) AS o FROM orders GROUP BY 1, 2), "
    "rm AS (SELECT s, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1), "
    "cm AS (SELECT p, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1), "
    "tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n, "
    "CAST(COUNT(DISTINCT s) AS BIGINT) AS nr, "
    "CAST(COUNT(DISTINCT p) AS BIGINT) AS nc FROM cells), "
    "t AS (SELECT n, nr, nc, "
    "CAST(SUM(CAST(ROUND((CAST((CAST(n AS HUGEINT) * o "
    "- CAST(r AS HUGEINT) * c) * (CAST(n AS HUGEINT) * o "
    "- CAST(r AS HUGEINT) * c) AS DOUBLE) "
    "/ CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE)) "
    f"* {CHI2_SCALE}) AS BIGINT)) AS BIGINT) AS t_s "
    "FROM cells JOIN rm USING (s) JOIN cm USING (p), tot "
    "GROUP BY 1, 2, 3) "
    "SELECT n AS n_orders, CAST((nr - 1) * (nc - 1) AS INT) AS df, "
    f"ROUND(CAST(t_s AS DOUBLE) / {float(CHI2_SCALE)}, 6) AS chi2 "
    "FROM t"
)


# --- Kruskal–Wallis H test ------------------------------------------------------

KW_SCALE = 10_000  # per-group term quantization (H error ~ 1e-8)


def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Kruskal–Wallis H test** (JASA 1952) across ALL five order
    priorities: the k-group generalization of `agg_mann_whitney_u` —
    one rank-based ANOVA answering "do any priorities price
    differently?" before pairwise tests.

    Same doubled-rank device as Mann–Whitney (2·avgrank = 2·minrank +
    t − 1, exact), then H = 12/(n(n+1)) · Σ R_i²/n_i − 3(n+1) with each
    group's R_i²/(4·n_i·n) quantized ×1e4 to int64 (the term divided by
    n BEFORE quantizing keeps it inside int64 at 100x; quantization
    error reaches H at ~12·5·0.5/(1e4·n·(n+1)) ≈ 1e-10 — identical in
    both engines regardless), the cross-group sum exact, and the tie
    correction 1 − Σ(t³−t)/(n³−n) in DECIMAL(38,0) ≡ HUGEINT.

    Scale: one parallel groupBy(v, grp) tally, the `functions/ranks.py`
    two-level prefix sum for exact doubled ranks (round 14 — the global
    rank WINDOW this replaces was a single-task sort of every row), and
    one v-keyed join of the (value, group) tallies against the rank
    table; per-group rank sums are then Σ c(v,g)·dr(v)."""
    from ..functions.ranks import doubled_rank_by_value

    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        dround(F.col("o_totalprice") * F.lit(10_000.0), 0)
        .cast("long")
        .alias("v"),
    )
    per_vg = base.groupBy("v", "grp").agg(F.count(F.lit(1)).alias("c"))
    per_v = per_vg.groupBy("v").agg(F.sum("c").alias("t"))
    ranked = doubled_rank_by_value(spark, per_v, "v", "t")
    per_g = (
        per_vg.join(ranked.select("v", "dr"), "v")
        .groupBy("grp")
        .agg(
            F.sum(F.col("c") * F.col("dr")).alias("rd"),
            F.sum("c").alias("ni"),
        )
    )
    tot = per_g.agg(
        F.sum("ni").alias("n"), F.count(F.lit(1)).alias("k")
    )
    term = (
        (F.col("rd").cast("decimal(38,0)") * F.col("rd")).cast("double")
        / (
            F.lit(4.0)
            * F.col("ni").cast("double")
            * F.col("n").cast("double")
        )
    )
    s = (
        per_g.crossJoin(F.broadcast(tot))
        .groupBy("n", "k")
        .agg(dsum_scaled(term, KW_SCALE).alias("s_q"))
    )
    # tie cubes off the rank table (it already carries t per value)
    ties = ranked.agg(
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("t3t")
    )
    n_d = F.col("n").cast("double")
    h = (
        F.lit(12.0)
        * (F.col("s_q").cast("double") / F.lit(float(KW_SCALE)))
        / (n_d + F.lit(1.0))
        - F.lit(3.0) * (n_d + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("t3t").cast("double") / (
        n_d * n_d * n_d - n_d
    )
    return s.crossJoin(F.broadcast(ties)).select(
        F.col("n").cast("long").alias("n_orders"),
        (F.col("k") - F.lit(1)).cast("int").alias("df"),
        dround(h, 6).alias("h_stat"),
        dround(h / corr, 6).alias("h_corrected"),
    )


QUERIES["agg_kruskal_wallis"] = agg_kruskal_wallis

ORACLE["agg_kruskal_wallis"] = (
    "WITH base AS (SELECT o_orderpriority AS grp, "
    "CAST(ROUND(o_totalprice * 10000.0) AS BIGINT) AS v FROM orders), "
    "r AS (SELECT grp, v, 2 * RANK() OVER (ORDER BY v) "
    "+ COUNT(*) OVER (PARTITION BY v) - 1 AS dr FROM base), "
    "pg AS (SELECT grp, CAST(SUM(dr) AS BIGINT) AS rd, "
    "CAST(COUNT(*) AS BIGINT) AS ni FROM r GROUP BY 1), "
    "tot AS (SELECT CAST(SUM(ni) AS BIGINT) AS n, "
    "CAST(COUNT(*) AS BIGINT) AS k FROM pg), "
    "s AS (SELECT n, k, CAST(SUM(CAST(ROUND("
    "CAST(CAST(rd AS HUGEINT) * rd AS DOUBLE) "
    "/ (4.0 * CAST(ni AS DOUBLE) * CAST(n AS DOUBLE)) "
    f"* {KW_SCALE}) AS BIGINT)) AS BIGINT) AS s_q "
    "FROM pg, tot GROUP BY 1, 2), "
    "ties AS (SELECT CAST(SUM(CAST(t AS HUGEINT) * t * t - t) "
    "AS HUGEINT) AS t3t FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t "
    "FROM base GROUP BY v)) "
    "SELECT n AS n_orders, CAST(k - 1 AS INT) AS df, "
    f"ROUND(12.0 * (CAST(s_q AS DOUBLE) / {float(KW_SCALE)}) "
    "/ (CAST(n AS DOUBLE) + 1.0) "
    "- 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h_stat, "
    f"ROUND((12.0 * (CAST(s_q AS DOUBLE) / {float(KW_SCALE)}) "
    "/ (CAST(n AS DOUBLE) + 1.0) "
    "- 3.0 * (CAST(n AS DOUBLE) + 1.0)) "
    "/ (1.0 - CAST(t3t AS DOUBLE) / (CAST(n AS DOUBLE) "
    "* CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6) "
    "AS h_corrected "
    "FROM s, ties"
)


# --- Kolmogorov–Smirnov two-sample test -----------------------------------------


def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Two-sample Kolmogorov–Smirnov statistic** (Smirnov 1939)
    between URGENT and LOW order prices: D = max_v |F1(v) − F2(v)| —
    the distribution-SHAPE companion of `agg_mann_whitney_u` (which
    only sees location): two samples can share a median and still
    differ in spread; KS sees it. Also emits the asymptotic scaling
    λ = D·√(n1·n2/(n1+n2)) (compare to the Kolmogorov distribution's
    1.358 at α=0.05).

    Exactness: the ECDF difference at value v clears denominators —
    |n2·C1(v) − n1·C2(v)| with C the cumulative group counts — so the
    argmax runs over exact int64 and D is ONE division, λ one
    fixed-shape expression (`dround` 6).

    Scale: one map-side-combinable per-value count aggregate, the
    `functions/ranks.py` two-level prefix sum for the cumulative group
    counts (round 14 — prices are near-unique so "distinct values" is
    row-scale, and the global cumulative window this replaces was a
    single-task sort), one max aggregate."""
    from ..functions.ranks import running_sums_by_value

    orders = read_table(spark, sf_dir, "orders")
    both = orders.filter(
        F.col("o_orderpriority").isin(MW_GROUP_A, MW_GROUP_B)
    ).select(
        (F.col("o_orderpriority") == MW_GROUP_A).alias("is_a"),
        dround(F.col("o_totalprice") * F.lit(10_000.0), 0)
        .cast("long")
        .alias("v"),
    )
    # round 15: checkpoint the histogram HERE (it feeds both the prefix
    # device and the group totals below — rule 5), and tell the device
    # not to re-checkpoint it
    per_v = both.groupBy("v").agg(
        F.sum(F.when(F.col("is_a"), F.lit(1)).otherwise(F.lit(0))).alias(
            "a"
        ),
        F.sum(F.when(~F.col("is_a"), F.lit(1)).otherwise(F.lit(0))).alias(
            "b"
        ),
    ).localCheckpoint(eager=True)
    cum = running_sums_by_value(
        spark, per_v, "v", ["a", "b"], checkpoint_input=False
    ).select(
        F.col("run_a").alias("c1"), F.col("run_b").alias("c2")
    )
    # round 15: group totals from the per-value histogram (sums of the
    # per-value counts ≡ group counts, exact integers) — the separate
    # aggregate over `both` re-scanned orders a second time (rule 5)
    tot = per_v.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
    )
    stat = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.max(
                F.abs(
                    F.col("n2") * F.col("c1") - F.col("n1") * F.col("c2")
                )
            ).alias("d_num")
        )
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    d = F.col("d_num").cast("double") / (n1d * n2d)
    return stat.select(
        F.col("n1").cast("long").alias("n_urgent"),
        F.col("n2").cast("long").alias("n_low"),
        dround(d, 6).alias("d_stat"),
        dround(
            d * F.sqrt(n1d * n2d / (n1d + n2d)), 6
        ).alias("ks_lambda"),
    )


QUERIES["agg_ks_two_sample"] = agg_ks_two_sample

ORACLE["agg_ks_two_sample"] = (
    "WITH both_g AS (SELECT "
    f"o_orderpriority = '{MW_GROUP_A}' AS is_a, "
    "CAST(ROUND(o_totalprice * 10000.0) AS BIGINT) AS v "
    f"FROM orders WHERE o_orderpriority IN ('{MW_GROUP_A}', "
    f"'{MW_GROUP_B}')), "
    "pv AS (SELECT v, "
    "CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS a, "
    "CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS b "
    "FROM both_g GROUP BY 1), "
    "cum AS (SELECT CAST(SUM(a) OVER (ORDER BY v) AS BIGINT) AS c1, "
    "CAST(SUM(b) OVER (ORDER BY v) AS BIGINT) AS c2 FROM pv), "
    "tot AS (SELECT "
    "CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
    "CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n2 "
    "FROM both_g), "
    "st AS (SELECT n1, n2, "
    "CAST(MAX(abs(n2 * c1 - n1 * c2)) AS BIGINT) AS d_num "
    "FROM cum, tot GROUP BY 1, 2) "
    "SELECT n1 AS n_urgent, n2 AS n_low, "
    "ROUND(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) "
    "* CAST(n2 AS DOUBLE)), 6) AS d_stat, "
    "ROUND(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) "
    "* CAST(n2 AS DOUBLE)) * sqrt(CAST(n1 AS DOUBLE) "
    "* CAST(n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) "
    "+ CAST(n2 AS DOUBLE))), 6) AS ks_lambda "
    "FROM st"
)


# --- Spearman rank correlation ---------------------------------------------------


def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Spearman rank correlation** (1904) between an order's total
    price and its line count — the monotonic-association companion of
    `agg_corr_covar`'s Pearson (which sees only LINEAR association and
    is leveraged by price outliers; rank correlation is robust to
    both).

    Exactness: both variables rank with the doubled-average-rank device
    (2·avgrank = 2·minrank + t − 1, exact ints); Pearson on the doubled
    ranks clears every /M — ρ = (M·Σxy − Σx·Σy) / √((M·Σx² − (Σx)²) ·
    (M·Σy² − (Σy)²)) — with all five sums exact DECIMAL(38,0) ≡
    HUGEINT; the two second-moment factors cast to double BEFORE their
    product (their exact product would overflow 128 bits at 100x), then
    one sqrt and one division, `dround` 6.

    Scale: one join (orders ⋈ per-order line counts — both keyed on
    the order key), then per-variable rank TABLES from the
    `functions/ranks.py` two-level prefix sum joined back by value
    (round 14 — this replaced two global rank windows, each a
    single-task sort of every row; the product moment Σrx·ry needs
    per-row ranks, so the rank tables join back: the price table by
    its near-unique value in a parallel shuffle join, the line-count
    table — a handful of distinct values — as a broadcast), and one
    moment aggregate."""
    from ..functions.ranks import doubled_rank_by_value

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    # round 15: pairs (an orders ⋈ lineitem-agg join) feeds BOTH value
    # histograms and the rank join-back — eager checkpoint cuts the
    # fact join to one execution instead of three (rule 5; measured
    # 3.8 s → the join ran once per reference)
    pairs = (
        orders.select(
            "o_orderkey",
            dround(F.col("o_totalprice") * F.lit(10_000.0), 0)
            .cast("long")
            .alias("vx"),
        )
        .join(cnt, "o_orderkey")
        .localCheckpoint(eager=True)
    )
    rx_tab = doubled_rank_by_value(
        spark,
        pairs.groupBy("vx").agg(F.count(F.lit(1)).alias("t")),
        "vx",
        "t",
    ).select("vx", F.col("dr").alias("rx"))
    ry_tab = doubled_rank_by_value(
        spark,
        pairs.groupBy("n_lines").agg(F.count(F.lit(1)).alias("t")),
        "n_lines",
        "t",
    ).select("n_lines", F.col("dr").alias("ry"))
    ranked = pairs.join(rx_tab, "vx").join(F.broadcast(ry_tab), "n_lines")

    mom = ranked.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(d38("rx") * F.col("rx")).alias("sxx"),
        F.sum(d38("ry") * F.col("ry")).alias("syy"),
        F.sum(d38("rx") * F.col("ry")).alias("sxy"),
    )
    num = d38("m") * F.col("sxy") - d38("sx") * F.col("sy")
    m2x = d38("m") * F.col("sxx") - d38("sx") * F.col("sx")
    m2y = d38("m") * F.col("syy") - d38("sy") * F.col("sy")
    return (
        mom.filter((m2x > 0) & (m2y > 0))
        .select(
            F.col("m").cast("long").alias("n_orders"),
            dround(
                num.cast("double")
                / F.sqrt(m2x.cast("double") * m2y.cast("double")),
                6,
            ).alias("spearman_rho"),
        )
    )


QUERIES["agg_spearman_rank_corr"] = agg_spearman_rank_corr

ORACLE["agg_spearman_rank_corr"] = (
    "WITH cnt AS (SELECT l_orderkey AS o_orderkey, "
    "CAST(COUNT(*) AS BIGINT) AS n_lines FROM lineitem GROUP BY 1), "
    "p AS (SELECT CAST(ROUND(o_totalprice * 10000.0) AS BIGINT) AS vx, "
    "n_lines FROM orders JOIN cnt USING (o_orderkey)), "
    "r AS (SELECT "
    "2 * RANK() OVER (ORDER BY vx) "
    "+ COUNT(*) OVER (PARTITION BY vx) - 1 AS rx, "
    "2 * RANK() OVER (ORDER BY n_lines) "
    "+ COUNT(*) OVER (PARTITION BY n_lines) - 1 AS ry FROM p), "
    "mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS m, "
    "CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy, "
    "CAST(SUM(CAST(rx AS HUGEINT) * rx) AS HUGEINT) AS sxx, "
    "CAST(SUM(CAST(ry AS HUGEINT) * ry) AS HUGEINT) AS syy, "
    "CAST(SUM(CAST(rx AS HUGEINT) * ry) AS HUGEINT) AS sxy FROM r) "
    "SELECT m AS n_orders, "
    "ROUND(CAST(CAST(m AS HUGEINT) * sxy "
    "- CAST(sx AS HUGEINT) * sy AS DOUBLE) "
    "/ sqrt(CAST(CAST(m AS HUGEINT) * sxx "
    "- CAST(sx AS HUGEINT) * sx AS DOUBLE) "
    "* CAST(CAST(m AS HUGEINT) * syy "
    "- CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6) AS spearman_rho "
    "FROM mom WHERE CAST(m AS HUGEINT) * sxx "
    "- CAST(sx AS HUGEINT) * sx > 0 "
    "AND CAST(m AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0"
)


# --- Welch's unequal-variance t-test ---------------------------------------------


def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Welch's unequal-variance t-test** (Biometrika 1947) between
    URGENT and LOW order prices — the parametric companion of
    `agg_mann_whitney_u` on the same two groups (rank-free, so it sees
    the MEANS rather than the whole distributions), with the
    Welch–Satterthwaite effective degrees of freedom.

    Exactness: prices quantize to scaled int64 (×1e4); each group's
    count n, sum s and sum-of-squares q are exact integers (q in
    DECIMAL(38,0) ≡ HUGEINT — v² reaches ~2.5e19), so the sample
    variance numerator A = n·q − s² is exact. The exposed doubles are
    fixed-shape expressions off those integers: u_h = A_h/(n_h(n_h−1)n_h)
    (the squared standard error, scale cancelling between numerator and
    denominator of t), t = (m1−m2)/√(u1+u2), and
    df = (u1+u2)² / (u1²/(n1−1) + u2²/(n2−1)).

    Scale: ONE map-side-combinable conditional aggregate over orders —
    no rank window at all (contrast Mann–Whitney's global sort), so
    this is the cheapest member of the testing family at 100 TB."""
    orders = read_table(spark, sf_dir, "orders")
    both = orders.filter(
        F.col("o_orderpriority").isin(MW_GROUP_A, MW_GROUP_B)
    ).select(
        (F.col("o_orderpriority") == MW_GROUP_A).alias("is_a"),
        dround(F.col("o_totalprice") * F.lit(10_000.0), 0)
        .cast("long")
        .alias("v"),
    )

    agg = both.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("is_a"), F.col("v"))).alias("s1"),
        F.sum(F.when(~F.col("is_a"), F.col("v"))).alias("s2"),
        F.sum(F.when(F.col("is_a"), d38("v") * F.col("v"))).alias("q1"),
        F.sum(F.when(~F.col("is_a"), d38("v") * F.col("v"))).alias("q2"),
    ).filter((F.col("n1") > 1) & (F.col("n2") > 1))
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2 = F.col("s1"), F.col("s2")
    a1 = d38(n1) * F.col("q1") - d38(s1) * s1
    a2 = d38(n2) * F.col("q2") - d38(s2) * s2
    n1d, n2d = n1.cast("double"), n2.cast("double")
    m1 = s1.cast("double") / n1d
    m2 = s2.cast("double") / n2d
    u1 = a1.cast("double") / (n1d * (n1d - F.lit(1.0)) * n1d)
    u2 = a2.cast("double") / (n2d * (n2d - F.lit(1.0)) * n2d)
    use = u1 + u2
    return agg.select(
        n1.alias("n_urgent"),
        n2.alias("n_low"),
        dround(m1 / F.lit(10_000.0), 4).alias("mean_urgent"),
        dround(m2 / F.lit(10_000.0), 4).alias("mean_low"),
        dround((m1 - m2) / F.lit(10_000.0), 4).alias("mean_diff"),
        dround((m1 - m2) / F.sqrt(use), 6).alias("t_stat"),
        dround(
            (use * use)
            / (
                u1 * u1 / (n1d - F.lit(1.0))
                + u2 * u2 / (n2d - F.lit(1.0))
            ),
            4,
        ).alias("df_welch"),
    )


QUERIES["agg_welch_ttest"] = agg_welch_ttest

ORACLE["agg_welch_ttest"] = (
    "WITH both_g AS (SELECT "
    f"o_orderpriority = '{MW_GROUP_A}' AS is_a, "
    "CAST(ROUND(o_totalprice * 10000.0) AS BIGINT) AS v "
    f"FROM orders WHERE o_orderpriority IN ('{MW_GROUP_A}', "
    f"'{MW_GROUP_B}')), "
    "a AS (SELECT "
    "CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
    "CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n2, "
    "CAST(SUM(CASE WHEN is_a THEN v END) AS BIGINT) AS s1, "
    "CAST(SUM(CASE WHEN NOT is_a THEN v END) AS BIGINT) AS s2, "
    "CAST(SUM(CASE WHEN is_a THEN CAST(v AS HUGEINT) * v END) "
    "AS HUGEINT) AS q1, "
    "CAST(SUM(CASE WHEN NOT is_a THEN CAST(v AS HUGEINT) * v END) "
    "AS HUGEINT) AS q2 FROM both_g), "
    "u AS (SELECT n1, n2, "
    "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1, "
    "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2, "
    "CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) "
    "/ (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0) "
    "* CAST(n1 AS DOUBLE)) AS u1, "
    "CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE) "
    "/ (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0) "
    "* CAST(n2 AS DOUBLE)) AS u2 "
    "FROM a WHERE n1 > 1 AND n2 > 1) "
    "SELECT n1 AS n_urgent, n2 AS n_low, "
    "ROUND(m1 / 10000.0, 4) AS mean_urgent, "
    "ROUND(m2 / 10000.0, 4) AS mean_low, "
    "ROUND((m1 - m2) / 10000.0, 4) AS mean_diff, "
    "ROUND((m1 - m2) / sqrt(u1 + u2), 6) AS t_stat, "
    "ROUND(((u1 + u2) * (u1 + u2)) "
    "/ (u1 * u1 / (CAST(n1 AS DOUBLE) - 1.0) "
    "+ u2 * u2 / (CAST(n2 AS DOUBLE) - 1.0)), 4) AS df_welch "
    "FROM u"
)


# --- One-way ANOVA F test ---------------------------------------------------------


def agg_oneway_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**One-way analysis of variance** (Fisher 1925) of order price
    across ALL five priorities — the k-group parametric extension of
    `agg_welch_ttest`, exactly as `agg_kruskal_wallis` extends
    `agg_mann_whitney_u` on the rank side.

    Exactness (the Kruskal pre-divide device, CLAUDE.md rule 2): the
    per-group between term s_h²/(n_h·n) and the grand terms Q/n and
    S²/n² are each ONE fixed-shape double expression off exact
    integers, quantized at 0 dp in scaled² units (≈4.5e17 at 100x —
    inside int64 BECAUSE of the pre-divide by n; the un-divided
    s_h²/n_h would be ~1e23) so the cross-group sum B = Σ and the SS
    differences SSB/n = B − g, SSW/n = qn − B are exact integers.
    F = ((B−g)·(n−k)) / ((qn−B)·(k−1)) with the two products in
    DECIMAL(38,0) ≡ HUGEINT and ONE division; η² = (B−g)/(qn−g).

    Scale: one map-side-combinable aggregate over orders to the k-row
    group frame; everything after runs on k rows."""
    orders = read_table(spark, sf_dir, "orders")
    v = dround(F.col("o_totalprice") * F.lit(10_000.0), 0).cast("long")

    # round 15: the 5-row group frame feeds the totals AND the
    # between-term join — eager checkpoint or each reference re-runs
    # the orders aggregate (rule 5; the agg_tukey_hsd precedent)
    per = orders.groupBy(F.col("o_orderpriority").alias("p")).agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(v).alias("sh"),
        F.sum(d38(v) * v).alias("qh"),
    ).localCheckpoint(eager=True)
    tot = per.agg(
        F.sum("nh").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sh").cast("long").alias("s"),
        F.sum("qh").alias("q"),
    )
    joined = per.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    bh = dround(
        F.col("sh").cast("double")
        * F.col("sh").cast("double")
        / (F.col("nh").cast("double") * nd),
        0,
    ).cast("long")
    sums = joined.groupBy("n", "k", "s", "q").agg(
        F.sum(bh).alias("b")
    )
    g = dround(
        F.col("s").cast("double") * F.col("s").cast("double") / (nd * nd),
        0,
    ).cast("long")
    qn = dround(F.col("q").cast("double") / nd, 0).cast("long")
    ssb_n = F.col("b") - g
    ssw_n = qn - F.col("b")
    return (
        sums.filter((qn - F.col("b")) > 0)
        .select(
            F.col("n").alias("n_orders"),
            F.col("k").alias("k_groups"),
            dround(
                (d38(ssb_n) * (F.col("n") - F.col("k"))).cast("double")
                / (d38(ssw_n) * (F.col("k") - F.lit(1))).cast("double"),
                6,
            ).alias("f_stat"),
            dround(
                ssb_n.cast("double") / (qn - g).cast("double"), 6
            ).alias("eta_squared"),
        )
    )


QUERIES["agg_oneway_anova"] = agg_oneway_anova

ORACLE["agg_oneway_anova"] = (
    "WITH per AS (SELECT o_orderpriority AS p, "
    "CAST(COUNT(*) AS BIGINT) AS nh, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000.0) AS BIGINT)) AS BIGINT) "
    "AS sh, "
    "CAST(SUM(CAST(CAST(ROUND(o_totalprice * 10000.0) AS BIGINT) "
    "AS HUGEINT) * CAST(ROUND(o_totalprice * 10000.0) AS BIGINT)) "
    "AS HUGEINT) AS qh FROM orders GROUP BY 1), "
    "tot AS (SELECT CAST(SUM(nh) AS BIGINT) AS n, "
    "CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(sh) AS BIGINT) AS s, "
    "CAST(SUM(qh) AS HUGEINT) AS q FROM per), "
    "sums AS (SELECT n, k, s, q, "
    "CAST(SUM(CAST(ROUND(CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE) "
    "/ (CAST(nh AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)) AS BIGINT) "
    "AS b FROM per, tot GROUP BY n, k, s, q), "
    "f AS (SELECT n, k, b, "
    "CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) "
    "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT) AS g, "
    "CAST(ROUND(CAST(q AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS qn "
    "FROM sums) "
    "SELECT n AS n_orders, k AS k_groups, "
    "ROUND(CAST(CAST(b - g AS HUGEINT) * (n - k) AS DOUBLE) "
    "/ CAST(CAST(qn - b AS HUGEINT) * (k - 1) AS DOUBLE), 6) AS f_stat, "
    "ROUND(CAST(b - g AS DOUBLE) / CAST(qn - g AS DOUBLE), 6) "
    "AS eta_squared "
    "FROM f WHERE qn - b > 0"
)


# --- Kendall's tau-b rank correlation ---------------------------------------------


def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Kendall's τ-b** (Biometrika 1938, tie correction Kendall 1945)
    between monthly revenue and monthly order count — the
    concordance-pair view of the same question `agg_spearman_rank_corr`
    answers with ranks (τ weights each discordant pair equally;
    Spearman squares rank gaps, so a single far-out month moves ρ more
    than τ).

    Pair generation strictly AFTER the monthly rollup (the
    `agg_theil_sen_trend` posture): the O(n²) is in SERIES LENGTH
    (~84 months → 3.5k pairs), never row count. Concordant /
    discordant / x-tied / y-tied pair counts are exact integers off
    the exact scaled-int revenue (ties identical across engines);
    τ_b = (C−D)/√((n0−n1)(n0−n2)) is one fixed-shape double off those
    integers — the (n0−n1)(n0−n2) product in DECIMAL(38,0) ≡ HUGEINT.

    Scale: one map-side-combinable month rollup, then a broadcast-able
    self-join of the ~84-row series."""
    orders = read_table(spark, sf_dir, "orders")
    monthly = monthly_partials(orders).select(
        F.col("ms").alias("month"),
        F.col("total_scaled").alias("rev"),
        F.col("n_orders").alias("cnt"),
    )
    a = monthly.select(
        F.col("month").alias("ma"),
        F.col("rev").alias("ra"),
        F.col("cnt").alias("ca"),
    )
    b = monthly.select(
        F.col("month").alias("mb"),
        F.col("rev").alias("rb"),
        F.col("cnt").alias("cb"),
    )
    pairs = a.join(F.broadcast(b), F.col("ma") < F.col("mb")).select(
        (F.col("ra") - F.col("rb")).alias("dx"),
        (F.col("ca") - F.col("cb")).alias("dy"),
    )
    sgn = F.signum(F.col("dx").cast("double")) * F.signum(
        F.col("dy").cast("double")
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(sgn > 0, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(sgn < 0, 1).otherwise(0)).cast("long").alias("dd"),
        F.sum(F.when(F.col("dx") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("dy") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )

    denom = d38(F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n2"))
    return agg.filter(denom > 0).select(
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("c").alias("concordant"),
        F.col("dd").alias("discordant"),
        dround(
            (F.col("c") - F.col("dd")).cast("double")
            / F.sqrt(denom.cast("double")),
            6,
        ).alias("kendall_tau_b"),
    )


QUERIES["agg_kendall_tau"] = agg_kendall_tau

ORACLE["agg_kendall_tau"] = (
    "WITH monthly AS (SELECT date_trunc('month', o_orderdate) AS month, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000.0) AS BIGINT)) AS BIGINT) "
    "AS rev, CAST(COUNT(*) AS BIGINT) AS cnt FROM orders GROUP BY 1), "
    "pairs AS (SELECT a.rev - b.rev AS dx, a.cnt - b.cnt AS dy "
    "FROM monthly a JOIN monthly b ON a.month < b.month), "
    "agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0, "
    "CAST(SUM(CASE WHEN sign(CAST(dx AS DOUBLE)) "
    "* sign(CAST(dy AS DOUBLE)) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c, "
    "CAST(SUM(CASE WHEN sign(CAST(dx AS DOUBLE)) "
    "* sign(CAST(dy AS DOUBLE)) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS dd, "
    "CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
    "CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2 "
    "FROM pairs) "
    "SELECT n0 AS n_pairs, c AS concordant, dd AS discordant, "
    "ROUND(CAST(c - dd AS DOUBLE) "
    "/ sqrt(CAST(CAST(n0 - n1 AS HUGEINT) * (n0 - n2) AS DOUBLE)), 6) "
    "AS kendall_tau_b "
    "FROM agg WHERE CAST(n0 - n1 AS HUGEINT) * (n0 - n2) > 0"
)


# --- Contingency-table effect sizes off the chi-square device ----------------------


def agg_contingency_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Categorical effect sizes** for the status × priority
    contingency table — Cramér's V (1946), Pearson's contingency
    coefficient C, and Tschuprow's T (1925): the MAGNITUDE layer over
    `agg_chi_square_independence`'s significance (χ² grows with n even
    for a trivial association; V/C/T are the n-free strengths a user
    reports).

    χ² rides the chi-square operator's exact device verbatim (per-cell
    (n·O − r·c)²/(n·r·c) quantized ×1e6, exact cross-cell sum), so the
    two operators can never disagree on χ²; each effect size is then
    ONE fixed-shape double expression off the exact t_s/n/nr/nc —
    V = √(χ²/(n·min(nr−1,nc−1))), C = √(χ²/(χ²+n)),
    T = √(χ²/(n·√((nr−1)(nc−1)))) — `dround` 6.

    Scale: identical to the χ² operator (one count aggregate; k²-row
    algebra)."""
    agg = _chi2_status_priority(spark, sf_dir)
    chi2 = F.col("t_s").cast("double") / F.lit(float(CHI2_SCALE))
    n_d = F.col("n").cast("double")
    m = F.least(F.col("nr"), F.col("nc")) - F.lit(1)
    return agg.select(
        F.col("n").cast("long").alias("n_orders"),
        ((F.col("nr") - F.lit(1)) * (F.col("nc") - F.lit(1)))
        .cast("int")
        .alias("df"),
        dround(chi2, 6).alias("chi2"),
        dround(F.sqrt(chi2 / (n_d * m.cast("double"))), 6).alias(
            "cramers_v"
        ),
        dround(F.sqrt(chi2 / (chi2 + n_d)), 6).alias("contingency_c"),
        dround(
            F.sqrt(
                chi2
                / (
                    n_d
                    * F.sqrt(
                        ((F.col("nr") - F.lit(1)) * (F.col("nc") - F.lit(1)))
                        .cast("double")
                    )
                )
            ),
            6,
        ).alias("tschuprow_t"),
    )


QUERIES["agg_contingency_effect_sizes"] = agg_contingency_effect_sizes

ORACLE["agg_contingency_effect_sizes"] = (
    "WITH cells AS (SELECT o_orderstatus AS s, o_orderpriority AS p, "
    "CAST(COUNT(*) AS BIGINT) AS o FROM orders GROUP BY 1, 2), "
    "rm AS (SELECT s, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1), "
    "cm AS (SELECT p, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1), "
    "tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n, "
    "CAST(COUNT(DISTINCT s) AS BIGINT) AS nr, "
    "CAST(COUNT(DISTINCT p) AS BIGINT) AS nc FROM cells), "
    "t AS (SELECT n, nr, nc, "
    "CAST(SUM(CAST(ROUND((CAST((CAST(n AS HUGEINT) * o "
    "- CAST(r AS HUGEINT) * c) * (CAST(n AS HUGEINT) * o "
    "- CAST(r AS HUGEINT) * c) AS DOUBLE) "
    "/ CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE)) "
    f"* {CHI2_SCALE}) AS BIGINT)) AS BIGINT) AS t_s "
    "FROM cells JOIN rm USING (s) JOIN cm USING (p), tot "
    "GROUP BY 1, 2, 3) "
    "SELECT n AS n_orders, CAST((nr - 1) * (nc - 1) AS INT) AS df, "
    f"ROUND(CAST(t_s AS DOUBLE) / {float(CHI2_SCALE)}, 6) AS chi2, "
    f"ROUND(sqrt((CAST(t_s AS DOUBLE) / {float(CHI2_SCALE)}) "
    "/ (CAST(n AS DOUBLE) * CAST(least(nr, nc) - 1 AS DOUBLE))), 6) "
    "AS cramers_v, "
    f"ROUND(sqrt((CAST(t_s AS DOUBLE) / {float(CHI2_SCALE)}) "
    f"/ ((CAST(t_s AS DOUBLE) / {float(CHI2_SCALE)}) "
    "+ CAST(n AS DOUBLE))), 6) AS contingency_c, "
    f"ROUND(sqrt((CAST(t_s AS DOUBLE) / {float(CHI2_SCALE)}) "
    "/ (CAST(n AS DOUBLE) "
    "* sqrt(CAST((nr - 1) * (nc - 1) AS DOUBLE)))), 6) AS tschuprow_t "
    "FROM t"
)


# --- Customer revenue concentration: Gini + top-decile share ------------------------


def agg_gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Customer revenue concentration** — Gini coefficient (1912) and
    top-decile share of lifetime revenue per customer: the business-side
    inequality twin of `corpus_gini_by_source` (token inequality) and
    the concentration layer over `rfm_segmentation`.

    Exactness (the corpus-gini device): per-customer revenue is an
    exact scaled-int64 sum; with x_(i) the revenues sorted ASC under
    the total (revenue, custkey) order, G = (2·Σi·x_i − (n+1)·Σx) /
    (n·Σx) — ties in the sorted index commute inside Σi·x_i, so the
    unique tiebreaker cannot flip the value — and the top-decile share
    counts the n DIV 10 highest ranks. Every term is an exact integer
    (Σi·x_i in DECIMAL(38,0) ≡ HUGEINT); each exposed ratio is one
    division, `dround` 6.

    Scale: one map-side-combinable rollup to customer grain, one global
    rank (range-partitioned sort — the documented cost of exact ranks),
    one moment aggregate."""
    from ..functions.ranks import ranked_rows_by_value

    orders = read_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        dsum_scaled("o_totalprice").alias("x")
    )
    # exact global rank without a single-task window (round 14): the
    # value-bucket device of functions/ranks.py — customer cardinality
    # grows with the data, so Window.partitionBy() here was a scale bug
    ranked = ranked_rows_by_value(
        spark, per, "x", ["o_custkey"]
    ).select("x", F.col("rn").alias("i"))

    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(d38("i") * F.col("x")).alias("six"),
    )
    # top-decile revenue needs the rank cutoff; compute in a second pass
    tot = ranked.agg(F.count(F.lit(1)).alias("n2"))
    topd = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(
            F.col("i")
            > F.col("n2") - F.floor(F.col("n2") / F.lit(10)).cast("long")
        )
        .agg(F.sum("x").alias("top_x"))
    )
    g_num = F.lit(2) * d38("six") - d38(F.col("n") + 1) * F.col("sx")
    g_den = d38("n") * F.col("sx")
    return (
        agg.crossJoin(F.broadcast(topd))
        .filter(F.col("sx") > 0)
        .select(
            F.col("n").cast("long").alias("n_customers"),
            F.round(
                F.col("sx").cast("double") / F.lit(10_000.0), 4
            ).alias("total_revenue"),
            dround(
                g_num.cast("double") / g_den.cast("double"), 6
            ).alias("gini"),
            dround(
                F.col("top_x").cast("double")
                / F.col("sx").cast("double"),
                6,
            ).alias("top_decile_share"),
        )
    )


QUERIES["agg_gini_customer_revenue"] = agg_gini_customer_revenue

ORACLE["agg_gini_customer_revenue"] = (
    "WITH per AS (SELECT o_custkey, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS x FROM orders GROUP BY 1), "
    "r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i "
    "FROM per), "
    "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(x) AS BIGINT) AS sx, "
    "CAST(SUM(CAST(i AS HUGEINT) * x) AS HUGEINT) AS six FROM r), "
    "t AS (SELECT CAST(SUM(x) AS BIGINT) AS top_x FROM r, a "
    "WHERE i > n - n // 10) "
    "SELECT n AS n_customers, "
    "ROUND(CAST(sx AS DOUBLE) / 10000.0, 4) AS total_revenue, "
    "ROUND(CAST(2 * six - CAST(n + 1 AS HUGEINT) * sx AS DOUBLE) "
    "/ CAST(CAST(n AS HUGEINT) * sx AS DOUBLE), 6) AS gini, "
    "ROUND(CAST(top_x AS DOUBLE) / CAST(sx AS DOUBLE), 6) "
    "AS top_decile_share "
    "FROM a, t WHERE sx > 0"
)


# --- Column completeness / distinctness profile -------------------------------------

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def dq_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Column profiling** — per-column null counts, distinct
    cardinality and completeness ratio for the orders table: the
    first-contact data-quality report (the profile half of `dq_checks`'
    assertion half).

    One pass computes every column's null count and exact distinct
    count in a single aggregate (Spark plans multi-distinct via expand;
    the 100 TB variant swaps `countDistinct` for HLL sketches —
    `agg_hll_sketch_merge` is that path); the per-column rows are then
    an inline unpivot of that 1-row frame. Completeness is one division
    of exact ints, `dround` 6.

    vs reference: `etl.py:44-50` drops NA rows blindly; this measures
    what WOULD be dropped, per column, before anyone mutates data."""
    orders = read_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nn_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    one = orders.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"nn_{c}").cast("long").alias("n_nulls"),
                F.col(f"nd_{c}").cast("long").alias("n_distinct"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return (
        one.select("n_rows", F.explode(rows).alias("p"))
        .select(
            F.col("p.column_name").alias("column_name"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("p.n_nulls").alias("n_nulls"),
            F.col("p.n_distinct").alias("n_distinct"),
            dround(
                (F.col("n_rows") - F.col("p.n_nulls")).cast("double")
                / F.col("n_rows").cast("double"),
                6,
            ).alias("completeness"),
        )
        .orderBy("column_name")
    )


QUERIES["dq_completeness_profile"] = dq_completeness_profile

ORACLE["dq_completeness_profile"] = (
    "WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS nn_{c}, CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c}"
        for c in _PROFILE_COLS
    )
    + " FROM orders) "
    + " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows, nn_{c} AS n_nulls, "
        f"nd_{c} AS n_distinct, "
        f"ROUND(CAST(n_rows - nn_{c} AS DOUBLE) "
        f"/ CAST(n_rows AS DOUBLE), 6) AS completeness FROM a"
        for c in _PROFILE_COLS
    )
    + " ORDER BY column_name"
)


# --- Two-proportion z-test ----------------------------------------------------------


def agg_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Two-proportion z-test** (the pooled-variance normal
    approximation; Fleiss, *Statistical Methods for Rates and
    Proportions*): do URGENT and LOW orders FINISH (status 'F') at the
    same rate? The binomial member of the testing family — Welch
    compares means, Mann-Whitney distributions, this compares rates.

    Counts are exact integers from one conditional aggregate; the two
    rates, the pooled rate and z = (p1−p2)/√(p̂(1−p̂)(1/n1+1/n2)) are
    fixed-shape double expressions off those integers (`dround` 6).
    Degenerate pools (p̂ ∈ {0,1}) filter on exact integers: 0 < x1+x2
    < n1+n2 in both engines.

    Scale: ONE map-side-combinable aggregate over orders."""
    orders = read_table(spark, sf_dir, "orders")
    both = orders.filter(
        F.col("o_orderpriority").isin(MW_GROUP_A, MW_GROUP_B)
    ).select(
        (F.col("o_orderpriority") == MW_GROUP_A).alias("is_a"),
        (F.col("o_orderstatus") == "F").alias("done"),
    )
    agg = both.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("is_a") & F.col("done"), 1).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(~F.col("is_a") & F.col("done"), 1).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    n1, n2, x1, x2 = (F.col(c) for c in ("n1", "n2", "x1", "x2"))
    n1d, n2d = n1.cast("double"), n2.cast("double")
    p1 = x1.cast("double") / n1d
    p2 = x2.cast("double") / n2d
    pp = (x1 + x2).cast("double") / (n1 + n2).cast("double")
    z = (p1 - p2) / F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1d + F.lit(1.0) / n2d)
    )
    return agg.filter(
        ((x1 + x2) > 0) & ((x1 + x2) < (n1 + n2)) & (n1 > 0) & (n2 > 0)
    ).select(
        n1.alias("n_urgent"),
        n2.alias("n_low"),
        x1.alias("x_urgent"),
        x2.alias("x_low"),
        dround(p1, 6).alias("rate_urgent"),
        dround(p2, 6).alias("rate_low"),
        dround(z, 6).alias("z_score"),
    )


QUERIES["agg_two_proportion_ztest"] = agg_two_proportion_ztest

ORACLE["agg_two_proportion_ztest"] = (
    "WITH b AS (SELECT "
    f"o_orderpriority = '{MW_GROUP_A}' AS is_a, "
    "o_orderstatus = 'F' AS done FROM orders "
    f"WHERE o_orderpriority IN ('{MW_GROUP_A}', '{MW_GROUP_B}')), "
    "a AS (SELECT "
    "CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
    "CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n2, "
    "CAST(SUM(CASE WHEN is_a AND done THEN 1 ELSE 0 END) AS BIGINT) AS x1, "
    "CAST(SUM(CASE WHEN NOT is_a AND done THEN 1 ELSE 0 END) AS BIGINT) "
    "AS x2 FROM b) "
    "SELECT n1 AS n_urgent, n2 AS n_low, x1 AS x_urgent, x2 AS x_low, "
    "ROUND(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS rate_urgent, "
    "ROUND(CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS rate_low, "
    "ROUND((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) "
    "- CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE)) "
    "/ sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) "
    "* (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) "
    "* (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 6) "
    "AS z_score "
    "FROM a WHERE x1 + x2 > 0 AND x1 + x2 < n1 + n2 "
    "AND n1 > 0 AND n2 > 0"
)


# --- Customer-cohort LTV triangle ----------------------------------------------------


def rollup_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Cohort LTV triangle** — the revenue companion to
    `retention_cohorts` (which counts come-backs; this accumulates what
    they SPEND): customers are cohorted by their first order month, and
    each (cohort, month-offset) cell reports active customers, the
    cell's revenue, the cohort's cumulative revenue, and cumulative
    LTV per cohort member — the curve growth/finance teams read to
    decide payback windows (Fader & Hardie's CLV primitives, computed
    the warehouse way).

    Determinism: money via `dsum_scaled` (exact int64 cells), the
    cumulative sum runs over the SCALED integers and descales once at
    the end; per-cell money/LTV quotients round via `dround` 4 (rule
    2 — the triangle is row-per-cell). Cohort size is read off the
    offset-0 cell with a window MAX(CASE) — every member's first
    month IS offset 0, so no second scan of orders.

    Scale: one window-min over the customer partition (shuffle by
    custkey), one cell aggregate, then windows over the ~cohorts ×
    offsets triangle (tiny). No self-joins, no re-scan.

    vs reference: extends `dashboard_nfp.py`'s single-series rollups
    to the cohort triangle; no direct analogue."""
    orders = read_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("mon"),
        "o_totalprice",
    )
    w_cust = Window.partitionBy("o_custkey")
    base = o.select(
        "o_custkey",
        "mon",
        "o_totalprice",
        F.min("mon").over(w_cust).alias("cohort_month"),
    )
    cells = base.groupBy(
        "cohort_month",
        F.months_between(F.col("mon"), F.col("cohort_month"))
        .cast("int")
        .alias("offset_months"),
    ).agg(
        dsum_scaled("o_totalprice").alias("rev_s"),
        F.countDistinct("o_custkey").alias("active_customers"),
    )
    w_cum = (
        Window.partitionBy("cohort_month")
        .orderBy("offset_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_coh = Window.partitionBy("cohort_month")
    staged = cells.select(
        "cohort_month",
        "offset_months",
        "active_customers",
        "rev_s",
        F.sum("rev_s").over(w_cum).alias("cum_s"),
        F.max(
            F.when(F.col("offset_months") == 0, F.col("active_customers"))
        )
        .over(w_coh)
        .alias("cohort_customers"),
    )
    return staged.select(
        "cohort_month",
        "offset_months",
        "active_customers",
        F.col("cohort_customers").cast("long").alias("cohort_customers"),
        dround(F.col("rev_s").cast("double") / 10000.0, 4).alias(
            "month_revenue"
        ),
        dround(F.col("cum_s").cast("double") / 10000.0, 4).alias(
            "cum_revenue"
        ),
        dround(
            F.col("cum_s").cast("double")
            / 10000.0
            / F.col("cohort_customers").cast("double"),
            4,
        ).alias("cum_ltv_per_customer"),
    ).orderBy("cohort_month", "offset_months")


QUERIES["rollup_cohort_ltv"] = rollup_cohort_ltv

ORACLE["rollup_cohort_ltv"] = (
    "WITH o AS (SELECT o_custkey, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "o_totalprice FROM orders), "
    "b AS (SELECT o_custkey, mon, o_totalprice, "
    "MIN(mon) OVER (PARTITION BY o_custkey) AS cohort_month FROM o), "
    "cell AS (SELECT cohort_month, "
    "CAST(date_diff('month', cohort_month, mon) AS INT) AS offset_months, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s, "
    "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS active_customers "
    "FROM b GROUP BY 1, 2), "
    "w AS (SELECT cohort_month, offset_months, active_customers, rev_s, "
    "CAST(SUM(rev_s) OVER (PARTITION BY cohort_month ORDER BY "
    "offset_months ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS BIGINT) AS cum_s, "
    "CAST(MAX(CASE WHEN offset_months = 0 THEN active_customers END) "
    "OVER (PARTITION BY cohort_month) AS BIGINT) AS cohort_customers "
    "FROM cell) "
    "SELECT cohort_month, offset_months, active_customers, "
    "cohort_customers, "
    "ROUND(CAST(rev_s AS DOUBLE) / 10000.0, 4) AS month_revenue, "
    "ROUND(CAST(cum_s AS DOUBLE) / 10000.0, 4) AS cum_revenue, "
    "ROUND(CAST(cum_s AS DOUBLE) / 10000.0 "
    "/ CAST(cohort_customers AS DOUBLE), 4) AS cum_ltv_per_customer "
    "FROM w ORDER BY cohort_month, offset_months"
)


# --- Mutual information of the status x priority contingency table -------------------

# per-term c*ln(c) scale for the three exact entropy sums (the
# corpus_entropy_by_source device); envelope: term*scale must fit int64
_MI_SCALE = 100_000_000


def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Mutual information + normalized MI** of order status x priority
    (Cover & Thomas ch. 2) — the information-theoretic member of the
    association family: `agg_chi_square_independence` tests the null,
    `agg_contingency_effect_sizes` sizes it in chi-square units, this
    measures it in nats as MI = H(row) + H(col) - H(joint), with
    NMI = MI / sqrt(H(row)*H(col)) (Strehl & Ghosh 2002).

    Determinism: every entropy uses the factored exact form
    H = ln N - (SUM c*ln c)/N where the per-TYPE `c*ln c` terms sum as
    scaled int64 (`dsum_scaled`, associativity-proof). The row/column
    marginal sums are deduplicated with a per-cell ROW_NUMBER == 1
    guard so the whole statistic comes from ONE aggregate over the
    windowed 9-cell frame — one scan of orders, no re-executed
    subtrees (CLAUDE.md rule 5).

    Scale: one map-side-combinable cell count over orders; everything
    downstream runs on the #statuses x #priorities frame."""
    orders = read_table(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_all = Window.partitionBy()
    w_r = Window.partitionBy("o_orderstatus")
    w_c = Window.partitionBy("o_orderpriority")
    w_rn_r = Window.partitionBy("o_orderstatus").orderBy("o_orderpriority")
    w_rn_c = Window.partitionBy("o_orderpriority").orderBy("o_orderstatus")
    x = cells.select(
        F.col("c"),
        F.sum("c").over(w_r).alias("r"),
        F.sum("c").over(w_c).alias("s"),
        F.sum("c").over(w_all).alias("n"),
        (F.row_number().over(w_rn_r) == 1).alias("first_of_row"),
        (F.row_number().over(w_rn_c) == 1).alias("first_of_col"),
    )
    ln = F.log
    agg = x.agg(
        F.max("n").alias("n"),
        F.sum(F.when(F.col("first_of_row"), 1).otherwise(0))
        .cast("long")
        .alias("n_status"),
        F.sum(F.when(F.col("first_of_col"), 1).otherwise(0))
        .cast("long")
        .alias("n_priority"),
        dsum_scaled(
            F.col("c").cast("double") * ln(F.col("c").cast("double")),
            _MI_SCALE,
        ).alias("sj"),
        dsum_scaled(
            F.when(
                F.col("first_of_row"),
                F.col("r").cast("double") * ln(F.col("r").cast("double")),
            ).otherwise(F.lit(0.0)),
            _MI_SCALE,
        ).alias("sr"),
        dsum_scaled(
            F.when(
                F.col("first_of_col"),
                F.col("s").cast("double") * ln(F.col("s").cast("double")),
            ).otherwise(F.lit(0.0)),
            _MI_SCALE,
        ).alias("sc"),
    )
    nd = F.col("n").cast("double")
    h_joint = ln(nd) - F.col("sj").cast("double") / _MI_SCALE / nd
    h_row = ln(nd) - F.col("sr").cast("double") / _MI_SCALE / nd
    h_col = ln(nd) - F.col("sc").cast("double") / _MI_SCALE / nd
    mi = h_row + h_col - h_joint
    return agg.filter(F.col("n") > 0).select(
        F.col("n").cast("long").alias("n_orders"),
        "n_status",
        "n_priority",
        dround(h_row, 6).alias("h_status"),
        dround(h_col, 6).alias("h_priority"),
        dround(h_joint, 6).alias("h_joint"),
        dround(mi, 6).alias("mi_nats"),
        dround(F.try_divide(mi, F.sqrt(h_row * h_col)), 6).alias("nmi"),
    )


QUERIES["agg_mutual_information"] = agg_mutual_information

ORACLE["agg_mutual_information"] = (
    "WITH cells AS (SELECT o_orderstatus, o_orderpriority, "
    "CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1, 2), "
    "x AS (SELECT c, "
    "SUM(c) OVER (PARTITION BY o_orderstatus) AS r, "
    "SUM(c) OVER (PARTITION BY o_orderpriority) AS s, "
    "SUM(c) OVER () AS n, "
    "ROW_NUMBER() OVER (PARTITION BY o_orderstatus "
    "ORDER BY o_orderpriority) = 1 AS first_of_row, "
    "ROW_NUMBER() OVER (PARTITION BY o_orderpriority "
    "ORDER BY o_orderstatus) = 1 AS first_of_col FROM cells), "
    "a AS (SELECT CAST(MAX(n) AS BIGINT) AS n, "
    "CAST(SUM(CASE WHEN first_of_row THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_status, "
    "CAST(SUM(CASE WHEN first_of_col THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_priority, "
    "CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) "
    f"* {_MI_SCALE}) AS BIGINT)) AS BIGINT) AS sj, "
    "CAST(SUM(CAST(ROUND(CASE WHEN first_of_row THEN "
    "CAST(r AS DOUBLE) * ln(CAST(r AS DOUBLE)) ELSE 0.0 END "
    f"* {_MI_SCALE}) AS BIGINT)) AS BIGINT) AS sr, "
    "CAST(SUM(CAST(ROUND(CASE WHEN first_of_col THEN "
    "CAST(s AS DOUBLE) * ln(CAST(s AS DOUBLE)) ELSE 0.0 END "
    f"* {_MI_SCALE}) AS BIGINT)) AS BIGINT) AS sc FROM x) "
    "SELECT n AS n_orders, n_status, n_priority, "
    f"ROUND(ln(CAST(n AS DOUBLE)) - CAST(sr AS DOUBLE) / {_MI_SCALE} "
    "/ CAST(n AS DOUBLE), 6) AS h_status, "
    f"ROUND(ln(CAST(n AS DOUBLE)) - CAST(sc AS DOUBLE) / {_MI_SCALE} "
    "/ CAST(n AS DOUBLE), 6) AS h_priority, "
    f"ROUND(ln(CAST(n AS DOUBLE)) - CAST(sj AS DOUBLE) / {_MI_SCALE} "
    "/ CAST(n AS DOUBLE), 6) AS h_joint, "
    f"ROUND((ln(CAST(n AS DOUBLE)) - CAST(sr AS DOUBLE) / {_MI_SCALE} "
    "/ CAST(n AS DOUBLE)) "
    f"+ (ln(CAST(n AS DOUBLE)) - CAST(sc AS DOUBLE) / {_MI_SCALE} "
    "/ CAST(n AS DOUBLE)) "
    f"- (ln(CAST(n AS DOUBLE)) - CAST(sj AS DOUBLE) / {_MI_SCALE} "
    "/ CAST(n AS DOUBLE)), 6) AS mi_nats, "
    f"ROUND(((ln(CAST(n AS DOUBLE)) - CAST(sr AS DOUBLE) / {_MI_SCALE} "
    "/ CAST(n AS DOUBLE)) "
    f"+ (ln(CAST(n AS DOUBLE)) - CAST(sc AS DOUBLE) / {_MI_SCALE} "
    "/ CAST(n AS DOUBLE)) "
    f"- (ln(CAST(n AS DOUBLE)) - CAST(sj AS DOUBLE) / {_MI_SCALE} "
    "/ CAST(n AS DOUBLE))) "
    f"/ sqrt((ln(CAST(n AS DOUBLE)) - CAST(sr AS DOUBLE) / {_MI_SCALE} "
    "/ CAST(n AS DOUBLE)) "
    f"* (ln(CAST(n AS DOUBLE)) - CAST(sc AS DOUBLE) / {_MI_SCALE} "
    "/ CAST(n AS DOUBLE))), 6) AS nmi "
    "FROM a WHERE n > 0"
)


# --- Candidate-key uniqueness profile (one GROUPING SETS pass) ------------------------


def dq_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Candidate-key uniqueness profile** — the data-contract check
    run before declaring a primary key or a merge key: for each
    candidate (the declared PK `o_orderkey`, and the business key
    `(o_custkey, o_orderdate)` an upsert pipeline might be tempted to
    merge on), report group counts, duplicate groups/rows and max
    multiplicity. Completes the dq pack: `dq_completeness_profile`
    profiles NULLs per column, this profiles uniqueness per KEY.

    Both candidates are counted in ONE scan via GROUPING SETS
    (Spark 4's `DataFrame.groupingSets` == DuckDB `GROUP BY GROUPING
    SETS`) — the one-groupby-per-candidate alternative re-reads the
    fact table once per key (CLAUDE.md rule 5). All outputs exact
    integers; `is_unique` compares them in integer space.

    Scale: one expanded aggregate (map-side combinable per set);
    the per-candidate rollup runs on group-count rows."""
    orders = read_table(spark, sf_dir, "orders")
    g = orders.groupingSets(
        [[F.col("o_orderkey")], [F.col("o_custkey"), F.col("o_orderdate")]],
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderdate"),
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.grouping("o_orderkey").alias("g_ok"),
    )
    prof = g.groupBy(
        F.when(F.col("g_ok") == 0, F.lit("o_orderkey"))
        .otherwise(F.lit("o_custkey,o_orderdate"))
        .alias("candidate_key")
    ).agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("long")
        .alias("dup_groups"),
        F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0))
        .cast("long")
        .alias("dup_rows"),
        F.max("c").alias("max_multiplicity"),
    )
    return prof.select(
        "candidate_key",
        "n_rows",
        "n_groups",
        "dup_groups",
        "dup_rows",
        "max_multiplicity",
        F.when(F.col("n_groups") == F.col("n_rows"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_unique"),
    ).orderBy("candidate_key")


QUERIES["dq_key_uniqueness"] = dq_key_uniqueness

ORACLE["dq_key_uniqueness"] = (
    "WITH g AS (SELECT CAST(COUNT(*) AS BIGINT) AS c, "
    "GROUPING(o_orderkey) AS g_ok FROM orders "
    "GROUP BY GROUPING SETS ((o_orderkey), (o_custkey, o_orderdate))), "
    "p AS (SELECT CASE WHEN g_ok = 0 THEN 'o_orderkey' "
    "ELSE 'o_custkey,o_orderdate' END AS candidate_key, "
    "CAST(SUM(c) AS BIGINT) AS n_rows, "
    "CAST(COUNT(*) AS BIGINT) AS n_groups, "
    "CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS dup_groups, "
    "CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) "
    "AS dup_rows, "
    "CAST(MAX(c) AS BIGINT) AS max_multiplicity FROM g GROUP BY 1) "
    "SELECT candidate_key, n_rows, n_groups, dup_groups, dup_rows, "
    "max_multiplicity, "
    "CASE WHEN n_groups = n_rows THEN 1 ELSE 0 END AS is_unique "
    "FROM p ORDER BY candidate_key"
)


# --- Log-log price elasticity of demand per brand --------------------------------------

_ELAST_SCALE = 1_000_000_000  # per-row ln() values scaled to int64 (9 dp)


def agg_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Price elasticity of demand** per part brand — the log-log OLS
    slope d ln(quantity)/d ln(unit price) over lineitems (the
    econometrics-101 estimate; elasticity < -1 = elastic demand), with
    r² as the fit diagnostic — the pricing-analytics question an OLAP
    engine over a sales fact table exists to answer.

    Determinism: per-row ln(unit price) and ln(quantity) scale to
    int64 at 9 dp (`_nearest_long_away`, bitwise == DuckDB
    ROUND(x*1e9)); per-brand Σx, Σy, Σxy, Σx², Σy² are then EXACT
    (products as decimal(18,0)² -> decimal(38) ≡ HUGEINT — a single
    product already exceeds int64). Slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²)
    — the per-row scale cancels — is one division of exact values;
    r² = num²/(den_x·den_y) evaluates in fixed-shape doubles (num² at
    ~1e60 exceeds every exact type). `dround` 6 on both.

    Scale: broadcast the part dim (25 brands), one map-side-combinable
    aggregate over the fact scan — no windows, no self-joins; the
    sargable positivity filters reach the parquet scan."""
    from ..functions.numerics import _nearest_long_away

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    ).filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    xs = _nearest_long_away(
        F.log(F.col("l_extendedprice") / F.col("l_quantity"))
        * _ELAST_SCALE
    ).cast("decimal(18,0)")
    ys = _nearest_long_away(
        F.log(F.col("l_quantity")) * _ELAST_SCALE
    ).cast("decimal(18,0)")
    s = j.select(F.col("p_brand").alias("brand"), xs.alias("x"), ys.alias("y")).groupBy(
        "brand"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_dec = F.col("n").cast("decimal(12,0)")
    num = n_dec * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = n_dec * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = n_dec * F.col("syy") - F.col("sy") * F.col("sy")
    num_d, denx_d, deny_d = (
        num.cast("double"),
        den_x.cast("double"),
        den_y.cast("double"),
    )
    return s.filter((den_x > 0) & (den_y > 0)).select(
        "brand",
        F.col("n").cast("long").alias("n_items"),
        dround(num_d / denx_d, 6).alias("elasticity"),
        dround(num_d * num_d / (denx_d * deny_d), 6).alias("r2"),
    ).orderBy("brand")


QUERIES["agg_price_elasticity"] = agg_price_elasticity

ORACLE["agg_price_elasticity"] = (
    "WITH j AS (SELECT p.p_brand AS brand, "
    f"CAST(ROUND(ln(l_extendedprice / l_quantity) * {_ELAST_SCALE}) "
    "AS HUGEINT) AS x, "
    f"CAST(ROUND(ln(l_quantity) * {_ELAST_SCALE}) AS HUGEINT) AS y "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "WHERE l_quantity > 0 AND l_extendedprice > 0), "
    "s AS (SELECT brand, CAST(COUNT(*) AS HUGEINT) AS n, "
    "SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, "
    "SUM(x * x) AS sxx, SUM(y * y) AS syy FROM j GROUP BY 1), "
    "d AS (SELECT brand, n, n * sxy - sx * sy AS num, "
    "n * sxx - sx * sx AS den_x, n * syy - sy * sy AS den_y FROM s) "
    "SELECT brand, CAST(n AS BIGINT) AS n_items, "
    "ROUND(CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE), 6) AS elasticity, "
    "ROUND(CAST(num AS DOUBLE) * CAST(num AS DOUBLE) "
    "/ (CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE)), 6) AS r2 "
    "FROM d WHERE den_x > 0 AND den_y > 0 ORDER BY brand"
)


# --- Benjamini-Hochberg FDR over the per-year rate-difference tests -------------------

_BH_Q = 0.10  # target false-discovery rate
# Abramowitz & Stegun 26.2.17 Phi(z) polynomial (|error| < 7.5e-8)
_AS_T = 0.2316419
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_INV_SQRT_2PI = 0.3989422804014327


def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Benjamini-Hochberg FDR control** (Benjamini & Hochberg 1995)
    over a FAMILY of hypotheses — the multiple-testing discipline the
    per-test operators (`agg_two_proportion_ztest` et al.) need the
    moment they run per-group: here, one URGENT-vs-LOW finish-rate
    z-test PER SHIP YEAR, p-values via the Abramowitz-Stegun 26.2.17
    normal-CDF polynomial (|err| < 7.5e-8; closed-form, so BOTH engines
    evaluate the identical double expression — no stats library), then
    the BH step-up: sort p ascending, reject all ranks <= the largest i
    with p_(i) <= (i/m)q.

    Determinism: counts are exact integers per year; z, p and the BH
    threshold are fixed-shape double expressions off those integers —
    the step-up comparison runs on the UNROUNDED doubles identically in
    both engines; displayed values `dround` 6. Degenerate years filter
    in integer space first, so m is the tested-family size.

    Scale: one conditional aggregate over orders; the BH machinery
    runs on the ~7-row family."""
    orders = read_table(spark, sf_dir, "orders")
    both = orders.filter(
        F.col("o_orderpriority").isin(MW_GROUP_A, MW_GROUP_B)
    ).select(
        F.year("o_orderdate").cast("int").alias("ship_year"),
        (F.col("o_orderpriority") == MW_GROUP_A).alias("is_a"),
        (F.col("o_orderstatus") == "F").alias("done"),
    )
    agg = both.groupBy("ship_year").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("is_a") & F.col("done"), 1).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(~F.col("is_a") & F.col("done"), 1).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    n1, n2, x1, x2 = (F.col(c) for c in ("n1", "n2", "x1", "x2"))
    tested = agg.filter(
        ((x1 + x2) > 0) & ((x1 + x2) < (n1 + n2)) & (n1 > 0) & (n2 > 0)
    )
    n1d, n2d = n1.cast("double"), n2.cast("double")
    p1 = x1.cast("double") / n1d
    p2 = x2.cast("double") / n2d
    pp = (x1 + x2).cast("double") / (n1 + n2).cast("double")
    z = (p1 - p2) / F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1d + F.lit(1.0) / n2d)
    )
    za = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_T) * za)
    poly = (
        F.lit(_AS_B[0]) * t
        + F.lit(_AS_B[1]) * t * t
        + F.lit(_AS_B[2]) * t * t * t
        + F.lit(_AS_B[3]) * t * t * t * t
        + F.lit(_AS_B[4]) * t * t * t * t * t
    )
    pdf = F.lit(_INV_SQRT_2PI) * F.exp(F.lit(-0.5) * za * za)
    pval = F.lit(2.0) * pdf * poly
    scored = tested.select(
        "ship_year", "n1", "n2", "x1", "x2",
        z.alias("z"), pval.alias("p"),
    )
    w_rank = Window.orderBy(F.col("p").asc(), "ship_year")
    w_all = Window.partitionBy()
    ranked = scored.select(
        "*",
        F.row_number().over(w_rank).alias("p_rank"),
        F.count(F.lit(1)).over(w_all).alias("m"),
    )
    crit = (
        F.col("p_rank").cast("double")
        / F.col("m").cast("double")
        * F.lit(_BH_Q)
    )
    flagged = ranked.select(
        "*",
        crit.alias("crit"),
        F.max(F.when(F.col("p") <= crit, F.col("p_rank"))).over(w_all).alias(
            "k_max"
        ),
    )
    return flagged.select(
        "ship_year",
        "n1",
        "n2",
        "x1",
        "x2",
        dround(F.col("z"), 6).alias("z_score"),
        dround(F.col("p"), 6).alias("p_value"),
        F.col("p_rank").cast("int").alias("p_rank"),
        F.col("m").cast("long").alias("m_tests"),
        dround(F.col("crit"), 6).alias("bh_crit"),
        F.when(F.col("p_rank") <= F.col("k_max"), 1)
        .otherwise(0)
        .cast("int")
        .alias("rejected"),
    ).orderBy("ship_year")


QUERIES["agg_benjamini_hochberg"] = agg_benjamini_hochberg

_BH_Z = (
    "(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) "
    "- CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE)) "
    "/ sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) "
    "* (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) "
    "* (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))"
)

ORACLE["agg_benjamini_hochberg"] = (
    "WITH b AS (SELECT CAST(year(o_orderdate) AS INT) AS ship_year, "
    f"o_orderpriority = '{MW_GROUP_A}' AS is_a, "
    "o_orderstatus = 'F' AS done FROM orders "
    f"WHERE o_orderpriority IN ('{MW_GROUP_A}', '{MW_GROUP_B}')), "
    "a AS (SELECT ship_year, "
    "CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
    "CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n2, "
    "CAST(SUM(CASE WHEN is_a AND done THEN 1 ELSE 0 END) AS BIGINT) "
    "AS x1, "
    "CAST(SUM(CASE WHEN NOT is_a AND done THEN 1 ELSE 0 END) AS BIGINT) "
    "AS x2 FROM b GROUP BY 1), "
    "tested AS (SELECT * FROM a WHERE x1 + x2 > 0 "
    "AND x1 + x2 < n1 + n2 AND n1 > 0 AND n2 > 0), "
    f"sc AS (SELECT ship_year, n1, n2, x1, x2, {_BH_Z} AS z FROM tested), "
    f"pv AS (SELECT *, 2.0 * ({_INV_SQRT_2PI} "
    "* exp(-0.5 * abs(z) * abs(z))) * ("
    f"{_AS_B[0]} * (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"+ {_AS_B[1]} * (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"* (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"+ {_AS_B[2]} * (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"* (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"* (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"+ {_AS_B[3]} * (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"* (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"* (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"* (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"+ {_AS_B[4]} * (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"* (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"* (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"* (1.0 / (1.0 + {_AS_T} * abs(z))) "
    f"* (1.0 / (1.0 + {_AS_T} * abs(z)))) AS p FROM sc), "
    "rk AS (SELECT *, "
    "ROW_NUMBER() OVER (ORDER BY p ASC, ship_year) AS p_rank, "
    "COUNT(*) OVER () AS m FROM pv), "
    "fl AS (SELECT *, "
    f"CAST(p_rank AS DOUBLE) / CAST(m AS DOUBLE) * {_BH_Q} AS crit, "
    "MAX(CASE WHEN p <= CAST(p_rank AS DOUBLE) / CAST(m AS DOUBLE) "
    f"* {_BH_Q} THEN p_rank END) OVER () AS k_max FROM rk) "
    "SELECT ship_year, n1, n2, x1, x2, "
    "ROUND(z, 6) AS z_score, ROUND(p, 6) AS p_value, "
    "CAST(p_rank AS INT) AS p_rank, CAST(m AS BIGINT) AS m_tests, "
    "ROUND(crit, 6) AS bh_crit, "
    "CAST(CASE WHEN p_rank <= k_max THEN 1 ELSE 0 END AS INT) "
    "AS rejected "
    "FROM fl ORDER BY ship_year"
)


# --- Exact 10%-trimmed mean per year ---------------------------------------------------


def _year_ranked_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(year, o_totalprice, rn, n)`` with ``rn`` the EXACT per-year rank
    of each order by ``(o_totalprice, o_orderkey)`` — computed without a
    per-year window.

    ``Window.partitionBy(year)`` over a fact table is the round-14 scale
    smell this helper retires: 7 year-partitions means 7 single-task
    sorts of the whole table (measured 2.4-2.7 s at 30x; at 100 TB one
    year is one task — a job-killer). Instead, the two-level rank device
    of ``functions/ranks.py``, on value buckets derived
    DETERMINISTICALLY from the price itself (see that module's
    docstring for why buckets must come from values, never from
    ``spark_partition_id``/ReuseExchange — the physical-identity
    variant is nondeterministic under AQE):

    1. bucket every order by the affine map of its price — each
       (year, bucket) partition holds a contiguous price range;
    2. ``row_number`` within (year, bucket) ordered by
       (price, orderkey) — ~7xN_BUCKETS parallel local sorts;
    3. a TINY (year x bucket) count table → per-year exclusive bucket
       offsets + per-year totals, broadcast back:
       rn = in-bucket row_number + offset(year, bucket)."""
    from ..functions.ranks import ranked_rows_by_value

    orders = read_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("year"),
        "o_totalprice",
        "o_orderkey",
    )
    return ranked_rows_by_value(
        spark,
        orders,
        "o_totalprice",
        ["o_orderkey"],
        ["year"],
        # raw cached fact input: re-scanning the columnar cache beats
        # materializing a row copy of it (see ranked_rows_by_value)
        checkpoint_input=False,
    ).select("year", "o_totalprice", "rn", "n")


def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Exact trimmed mean** (10% per tail) of order value per year —
    the robust-location companion to `agg_percentiles` (median) and
    `norm_winsorize_clip` (which CLAMPS the tails; trimming DROPS
    them): rank each year's orders, discard exactly k = floor(n/10)
    rows from each tail, average the middle — the robust KPI that
    survives the mega-order outliers `dq_anomaly_mad` flags.

    Determinism: the trim boundary is pure integer logic on a
    ROW_NUMBER that tiebreaks on the unique order key (k from n by
    integer division — no interpolation, no percentile edge cases);
    the surviving rows sum via `dsum` (exact scaled int64). The plain
    mean is emitted alongside so the outlier pull (mean − trimmed) is
    visible per year.

    Scale: exact fully-parallel ranks via `_year_ranked_orders` (range
    repartition + slice sort + broadcast offset table — round 14; the
    per-year window this replaces sorted each year in ONE task, 2.4 s
    at 30x vs ~0.6 s now), then one map-combinable aggregate."""
    r = _year_ranked_orders(spark, sf_dir)
    k = F.floor(F.col("n") / 10)
    kept = F.col("o_totalprice").isNotNull() & (F.col("rn") > k) & (
        F.col("rn") <= F.col("n") - k
    )
    agg = r.groupBy("year").agg(
        F.max("n").alias("n_orders"),
        F.max(k).alias("k_trim"),
        dsum_scaled(F.when(kept, F.col("o_totalprice")).otherwise(F.lit(0.0)))
        .alias("kept_s"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        dsum_scaled("o_totalprice").alias("all_s"),
    )
    return agg.select(
        "year",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("k_trim").cast("long").alias("k_trim"),
        dround(
            F.col("all_s").cast("double")
            / 10000.0
            / F.col("n_orders").cast("double"),
            4,
        ).alias("mean_price"),
        dround(
            F.col("kept_s").cast("double")
            / 10000.0
            / F.col("n_kept").cast("double"),
            4,
        ).alias("trimmed_mean_price"),
    ).orderBy("year")


QUERIES["agg_trimmed_mean"] = agg_trimmed_mean

ORACLE["agg_trimmed_mean"] = (
    "WITH r AS (SELECT CAST(year(o_orderdate) AS INT) AS year, "
    "o_totalprice, "
    "ROW_NUMBER() OVER (PARTITION BY year(o_orderdate) "
    "ORDER BY o_totalprice, o_orderkey) AS rn, "
    "COUNT(*) OVER (PARTITION BY year(o_orderdate)) AS n FROM orders), "
    "a AS (SELECT year, CAST(MAX(n) AS BIGINT) AS n_orders, "
    "CAST(MAX(n // 10) AS BIGINT) AS k_trim, "
    "CAST(SUM(CAST(ROUND(CASE WHEN o_totalprice IS NOT NULL "
    "AND rn > n // 10 AND rn <= n - n // 10 THEN o_totalprice "
    "ELSE 0.0 END * 10000) AS BIGINT)) AS BIGINT) AS kept_s, "
    "CAST(SUM(CASE WHEN o_totalprice IS NOT NULL AND rn > n // 10 "
    "AND rn <= n - n // 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS all_s FROM r GROUP BY 1) "
    "SELECT year, n_orders, k_trim, "
    "ROUND(CAST(all_s AS DOUBLE) / 10000.0 "
    "/ CAST(n_orders AS DOUBLE), 4) AS mean_price, "
    "ROUND(CAST(kept_s AS DOUBLE) / 10000.0 "
    "/ CAST(n_kept AS DOUBLE), 4) AS trimmed_mean_price "
    "FROM a ORDER BY year"
)


# --- Rescaled-range (R/S) Hurst exponent of the monthly revenue series -----------------

_HURST_SIZES = (8, 16, 32)  # block sizes; H = slope of ln(R/S) on ln(b)
_HURST_SCALE = 1_000_000_000  # per-block R/S doubles sum as scaled int64


def agg_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Hurst exponent by rescaled-range (R/S) analysis** (Hurst 1951;
    Mandelbrot & Wallis 1969) of the monthly total-revenue series — the
    long-range-dependence diagnostic (H > 0.5 persistent, < 0.5
    mean-reverting) that complements the short-memory family
    (`timeseries_acf`, `timeseries_ar1_halflife`): for each block size
    b ∈ {8,16,32} months, split the series into ⌊T/b⌋ full blocks,
    compute each block's rescaled range R/S (range of mean-adjusted
    cumulative deviations over the population std), average per size,
    and read H off the log-log line — which for the dyadic size grid
    collapses to the closed form H = ln(avg₃₂/avg₈)/(2·ln 2).

    Determinism: within a block, z_t = b·cumsum(y) − t·Σy is EXACT
    int64 (the mean cleared of /b), so R = max z − min z is exact and
    R/S = R/√(b·Σy²−(Σy)²) — the scale AND the /b cancel — is one
    fixed-shape double off exact integers (y² products as decimal ≡
    HUGEINT); per-size averages sum those doubles as scaled int64
    (associativity-proof); degenerate blocks (constant series) filter
    on the exact denominator. The three-size explode happens AFTER the
    corpus-sized monthly rollup — one scan, no re-executed subtrees
    (CLAUDE.md rule 5).

    Scale: corpus work is the monthly rollup; the R/S machinery runs
    on sizes × months ≈ 240 rows."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders, rev="y")
    w_rn = Window.orderBy("mon")
    w_all = Window.partitionBy()
    t = m.select(
        "y",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("t_months"),
    )
    e = t.select(
        "*",
        F.explode(
            F.array(*[F.lit(b) for b in _HURST_SIZES])
        ).alias("b"),
    ).filter(F.col("rn") <= (F.col("t_months").cast("long") / F.col("b")).cast("long") * F.col("b"))
    blk = e.select(
        "y",
        "b",
        "t_months",
        ((F.col("rn") - 1) / F.col("b")).cast("long").alias("blk"),
        (F.col("rn") - ((F.col("rn") - 1) / F.col("b")).cast("long") * F.col("b")).alias("pos"),
        "rn",
    )
    w_blk = Window.partitionBy("b", "blk")
    w_cum = (
        Window.partitionBy("b", "blk")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    z = blk.select(
        "b",
        "blk",
        "t_months",
        "y",
        (
            F.col("b") * F.sum("y").over(w_cum)
            - F.col("pos") * F.sum("y").over(w_blk)
        ).alias("z"),
    )
    per_block = z.groupBy("b", "blk").agg(
        F.max("t_months").alias("t_months"),
        F.count(F.lit(1)).alias("nb"),
        (F.max("z") - F.min("z")).alias("r_int"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y").cast("decimal(18,0)") * F.col("y").cast("decimal(18,0)")).alias("syy"),
    )
    den = (
        F.col("b").cast("decimal(12,0)") * F.col("syy")
        - F.col("sy").cast("decimal(18,0)") * F.col("sy").cast("decimal(18,0)")
    )
    rs = F.col("r_int").cast("double") / F.sqrt(den.cast("double"))
    scored = per_block.filter(
        (F.col("nb") == F.col("b")) & (den > 0)
    ).select("b", "t_months", rs.alias("rs"))
    per_size = scored.groupBy("b").agg(
        F.max("t_months").alias("t_months"),
        F.count(F.lit(1)).alias("n_blocks"),
        dsum_scaled("rs", _HURST_SCALE).alias("rs_s"),
    )
    avg = (
        F.col("rs_s").cast("double")
        / _HURST_SCALE
        / F.col("n_blocks").cast("double")
    )
    one = per_size.select("b", "t_months", "n_blocks", avg.alias("avg_rs")).agg(
        F.max("t_months").cast("long").alias("n_months"),
        F.max(F.when(F.col("b") == 8, F.col("n_blocks"))).cast("long").alias("n_blocks_8"),
        F.max(F.when(F.col("b") == 16, F.col("n_blocks"))).cast("long").alias("n_blocks_16"),
        F.max(F.when(F.col("b") == 32, F.col("n_blocks"))).cast("long").alias("n_blocks_32"),
        F.max(F.when(F.col("b") == 8, F.col("avg_rs"))).alias("a8"),
        F.max(F.when(F.col("b") == 16, F.col("avg_rs"))).alias("a16"),
        F.max(F.when(F.col("b") == 32, F.col("avg_rs"))).alias("a32"),
    )
    return one.select(
        "n_months",
        "n_blocks_8",
        "n_blocks_16",
        "n_blocks_32",
        dround(F.col("a8"), 6).alias("avg_rs_8"),
        dround(F.col("a16"), 6).alias("avg_rs_16"),
        dround(F.col("a32"), 6).alias("avg_rs_32"),
        dround(
            F.log(F.col("a32") / F.col("a8"))
            / (F.lit(2.0) * F.log(F.lit(2.0))),
            6,
        ).alias("hurst"),
    )


QUERIES["agg_hurst_rs"] = agg_hurst_rs

ORACLE["agg_hurst_rs"] = (
    "WITH m AS (SELECT date_trunc('month', o_orderdate) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS y FROM orders GROUP BY 1), "
    "t AS (SELECT y, ROW_NUMBER() OVER (ORDER BY mon) AS rn, "
    "COUNT(*) OVER () AS t_months FROM m), "
    "e AS (SELECT t.y, t.rn, t.t_months, u.b FROM t, "
    "UNNEST([8, 16, 32]) AS u(b) "
    "WHERE t.rn <= (t.t_months // u.b) * u.b), "
    "blk AS (SELECT y, b, t_months, (rn - 1) // b AS blk, "
    "rn - ((rn - 1) // b) * b AS pos, rn FROM e), "
    "z AS (SELECT b, blk, t_months, y, "
    "b * SUM(y) OVER (PARTITION BY b, blk ORDER BY rn "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "- pos * SUM(y) OVER (PARTITION BY b, blk) AS z FROM blk), "
    "pb AS (SELECT b, blk, MAX(t_months) AS t_months, "
    "COUNT(*) AS nb, CAST(MAX(z) - MIN(z) AS BIGINT) AS r_int, "
    "CAST(SUM(y) AS BIGINT) AS sy, "
    "SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy "
    "FROM z GROUP BY 1, 2), "
    "sc AS (SELECT b, t_months, "
    "CAST(r_int AS DOUBLE) / sqrt(CAST(CAST(b AS HUGEINT) * syy "
    "- CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)) AS rs "
    "FROM pb WHERE nb = b AND CAST(b AS HUGEINT) * syy "
    "- CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) > 0), "
    "ps AS (SELECT b, MAX(t_months) AS t_months, "
    "CAST(COUNT(*) AS BIGINT) AS n_blocks, "
    f"CAST(SUM(CAST(ROUND(rs * {_HURST_SCALE}) AS BIGINT)) AS BIGINT) "
    "AS rs_s FROM sc GROUP BY 1), "
    "av AS (SELECT b, t_months, n_blocks, "
    f"CAST(rs_s AS DOUBLE) / {_HURST_SCALE} "
    "/ CAST(n_blocks AS DOUBLE) AS avg_rs FROM ps), "
    "one AS (SELECT CAST(MAX(t_months) AS BIGINT) AS n_months, "
    "CAST(MAX(CASE WHEN b = 8 THEN n_blocks END) AS BIGINT) "
    "AS n_blocks_8, "
    "CAST(MAX(CASE WHEN b = 16 THEN n_blocks END) AS BIGINT) "
    "AS n_blocks_16, "
    "CAST(MAX(CASE WHEN b = 32 THEN n_blocks END) AS BIGINT) "
    "AS n_blocks_32, "
    "MAX(CASE WHEN b = 8 THEN avg_rs END) AS a8, "
    "MAX(CASE WHEN b = 16 THEN avg_rs END) AS a16, "
    "MAX(CASE WHEN b = 32 THEN avg_rs END) AS a32 FROM av) "
    "SELECT n_months, n_blocks_8, n_blocks_16, n_blocks_32, "
    "ROUND(a8, 6) AS avg_rs_8, ROUND(a16, 6) AS avg_rs_16, "
    "ROUND(a32, 6) AS avg_rs_32, "
    "ROUND(ln(a32 / a8) / (2.0 * ln(2.0)), 6) AS hurst FROM one"
)


# --- Tukey IQR outlier fences per year -------------------------------------------------


def dq_outlier_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Tukey boxplot fences** per year (Tukey, *EDA* 1977): q1/q3 by
    exact interpolated quantiles, the 1.5·IQR inner fences, and the
    count/share of orders outside them — the third member of the
    outlier-screen family (`dq_anomaly_zscore` assumes normality,
    `dq_anomaly_mad` robust location; the IQR fence is the
    distribution-free boxplot rule every data-profiling report leads
    with).

    Determinism: Spark `percentile` ≡ DuckDB `quantile_cont` (same
    linear interpolation over the identical sorted multiset), both
    computed as WINDOW aggregates so every row compares against its
    year's fence IN THE SAME ENGINE-IDENTICAL double — outlier counts
    are then exact integers, ratios single divisions (`dround` 6;
    fence values display at 4 dp money).

    Scale: one exchange per year partition (the quantile window and
    the flag rollup share it)."""
    orders = read_table(spark, sf_dir, "orders")
    w_y = Window.partitionBy(F.year("o_orderdate"))
    flagged = orders.select(
        F.year("o_orderdate").cast("int").alias("year"),
        "o_totalprice",
        F.percentile("o_totalprice", F.lit(0.25)).over(w_y).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.75)).over(w_y).alias("q3"),
    ).select(
        "year",
        "o_totalprice",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    agg = flagged.groupBy("year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("q1").alias("q1"),
        F.max("q3").alias("q3"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.sum(F.when(F.col("o_totalprice") < F.col("lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_below"),
        F.sum(F.when(F.col("o_totalprice") > F.col("hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_above"),
    )
    return agg.select(
        "year",
        F.col("n_orders").cast("long").alias("n_orders"),
        dround(F.col("q1"), 4).alias("q1"),
        dround(F.col("q3"), 4).alias("q3"),
        dround(F.col("lo"), 4).alias("fence_lo"),
        dround(F.col("hi"), 4).alias("fence_hi"),
        "n_below",
        "n_above",
        dround(
            (F.col("n_below") + F.col("n_above")).cast("double")
            / F.col("n_orders").cast("double"),
            6,
        ).alias("outlier_share"),
    ).orderBy("year")


QUERIES["dq_outlier_iqr_fences"] = dq_outlier_iqr_fences

ORACLE["dq_outlier_iqr_fences"] = (
    "WITH f AS (SELECT CAST(year(o_orderdate) AS INT) AS year, "
    "o_totalprice, "
    "quantile_cont(o_totalprice, 0.25) OVER wy AS q1, "
    "quantile_cont(o_totalprice, 0.75) OVER wy AS q3 "
    "FROM orders WINDOW wy AS (PARTITION BY year(o_orderdate))), "
    "g AS (SELECT year, o_totalprice, q1, q3, "
    "q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM f), "
    "a AS (SELECT year, CAST(COUNT(*) AS BIGINT) AS n_orders, "
    "MAX(q1) AS q1, MAX(q3) AS q3, MAX(lo) AS lo, MAX(hi) AS hi, "
    "CAST(SUM(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_below, "
    "CAST(SUM(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_above FROM g GROUP BY 1) "
    "SELECT year, n_orders, ROUND(q1, 4) AS q1, ROUND(q3, 4) AS q3, "
    "ROUND(lo, 4) AS fence_lo, ROUND(hi, 4) AS fence_hi, "
    "n_below, n_above, "
    "ROUND(CAST(n_below + n_above AS DOUBLE) "
    "/ CAST(n_orders AS DOUBLE), 6) AS outlier_share "
    "FROM a ORDER BY year"
)


# --- Cohen's d / Hedges' g effect size (URGENT vs LOW order value) ---------------------


def agg_cohens_d_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Cohen's d and Hedges' g** for the URGENT-vs-LOW order-value
    contrast (Cohen 1988; Hedges 1981) — the EFFECT-SIZE companion to
    `agg_welch_ttest` (significance says the difference is real;
    d says whether it is big enough to matter — the value a dashboard
    should surface next to any p-value): d = (m1−m2)/s_pooled with the
    (n−1)-weighted pooled SD, g = d·(1 − 3/(4(n1+n2)−9)).

    Determinism: per-group Σv and Σv² accumulate over the 1e4-scaled
    integer prices (exact, decimal ≡ HUGEINT squares); every exposed
    double is a fixed-shape expression off those exact sums, `dround`.
    Degenerate pools (pooled variance 0) filter on the exact integers.

    Scale: ONE conditional map-side-combinable aggregate over orders."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    v = F.col("v").cast("decimal(18,0)")
    both = orders.filter(
        F.col("o_orderpriority").isin(MW_GROUP_A, MW_GROUP_B)
    ).select(
        (F.col("o_orderpriority") == MW_GROUP_A).alias("is_a"),
        _nearest_long_away(F.col("o_totalprice") * 10000).alias("v"),
    )
    agg = both.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("is_a"), F.col("v")).otherwise(F.lit(0)))
        .cast("decimal(18,0)")
        .alias("s1"),
        F.sum(F.when(~F.col("is_a"), F.col("v")).otherwise(F.lit(0)))
        .cast("decimal(18,0)")
        .alias("s2"),
        F.sum(F.when(F.col("is_a"), v * v).otherwise(F.lit(0).cast("decimal(37,0)")))
        .alias("q1"),
        F.sum(F.when(~F.col("is_a"), v * v).otherwise(F.lit(0).cast("decimal(37,0)")))
        .alias("q2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / n1d
    m2 = F.col("s2").cast("double") / n2d
    ss1 = F.col("q1").cast("double") - m1 * F.col("s1").cast("double")
    ss2 = F.col("q2").cast("double") - m2 * F.col("s2").cast("double")
    sp = F.sqrt((ss1 + ss2) / (n1d + n2d - F.lit(2.0)))
    d = (m1 - m2) / sp
    g = d * (
        F.lit(1.0)
        - F.lit(3.0) / (F.lit(4.0) * (n1d + n2d) - F.lit(9.0))
    )
    return agg.filter((F.col("n1") > 1) & (F.col("n2") > 1)).select(
        "n1",
        "n2",
        dround(m1 / 10000.0, 4).alias("mean_urgent"),
        dround(m2 / 10000.0, 4).alias("mean_low"),
        dround(sp / 10000.0, 4).alias("pooled_sd"),
        dround(d, 6).alias("cohens_d"),
        dround(g, 6).alias("hedges_g"),
    )


QUERIES["agg_cohens_d_effect_size"] = agg_cohens_d_effect_size

ORACLE["agg_cohens_d_effect_size"] = (
    "WITH b AS (SELECT "
    f"o_orderpriority = '{MW_GROUP_A}' AS is_a, "
    "CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS v FROM orders "
    f"WHERE o_orderpriority IN ('{MW_GROUP_A}', '{MW_GROUP_B}')), "
    "a AS (SELECT "
    "CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
    "CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n2, "
    "CAST(SUM(CASE WHEN is_a THEN v ELSE 0 END) AS HUGEINT) AS s1, "
    "CAST(SUM(CASE WHEN NOT is_a THEN v ELSE 0 END) AS HUGEINT) AS s2, "
    "SUM(CASE WHEN is_a THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT) "
    "ELSE CAST(0 AS HUGEINT) END) AS q1, "
    "SUM(CASE WHEN NOT is_a THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT) "
    "ELSE CAST(0 AS HUGEINT) END) AS q2 FROM b) "
    "SELECT n1, n2, "
    "ROUND(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 10000.0, 4) "
    "AS mean_urgent, "
    "ROUND(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 10000.0, 4) "
    "AS mean_low, "
    "ROUND(sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) "
    "/ CAST(n1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
    "+ (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) "
    "* CAST(s2 AS DOUBLE))) "
    "/ (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)) / 10000.0, 4) "
    "AS pooled_sd, "
    "ROUND((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) "
    "- CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) "
    "/ sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) "
    "/ CAST(n1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
    "+ (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) "
    "* CAST(s2 AS DOUBLE))) "
    "/ (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)), 6) "
    "AS cohens_d, "
    "ROUND(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) "
    "- CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) "
    "/ sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) "
    "/ CAST(n1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
    "+ (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) "
    "* CAST(s2 AS DOUBLE))) "
    "/ (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))) "
    "* (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) "
    "- 9.0)), 6) AS hedges_g "
    "FROM a WHERE n1 > 1 AND n2 > 1"
)


# --- Brown-Forsythe robust equality-of-variances test ----------------------------------

BF_DESCALE = 20_000.0  # |2v - 2*median| is in DOUBLED 1e4-scaled price units
BF_SSB_SCALE = 10_000  # per-group between-SS term quantization
BF_SSW_SCALE = 1.0  # per-group within-SS terms are ~1e13+; unit quantization


def agg_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Brown-Forsythe test** (Brown & Forsythe 1974 — Levene's test
    with the group MEDIAN center, the robust recommendation) for
    equality of order-value spread across the five priorities: a
    one-way ANOVA on z = |x − median_g|. The DISPERSION member of the
    testing family — `agg_oneway_anova` asks whether the priority
    MEANS differ; this asks whether their VARIABILITY does (the
    homoscedasticity check that decides whether the pooled-variance
    tests upstream are even applicable).

    Determinism: v is the 1e4-scaled integer price; 2·median_g is an
    exact integer for any group size (the interpolated median of
    integers is k or k+0.5, and Spark ``percentile`` ≡ DuckDB
    ``quantile_cont`` — identical linear interpolation, exact in IEEE
    below 2^53), so z = |2v − 2med| is an exact int64 and the
    per-group Σz / Σz² accumulate in DECIMAL(38,0) ≡ HUGEINT. The
    between/within sum-of-squares terms are fixed-shape doubles off
    those exact sums, quantized PER GROUP to scaled int64 before the
    exact cross-group sum (the `agg_kruskal_wallis` device), so no
    float accumulation is order-dependent. W is one division off the
    exact quantized sums.

    Scale: one broadcast of the 5-row median table back onto orders,
    one map-side-combinable conditional aggregate, then all algebra on
    the 5-row group frame (two tiny windows)."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    s = orders.select(
        F.col("o_orderpriority").alias("g"),
        _nearest_long_away(F.col("o_totalprice") * 10000).alias("v"),
    )
    med = s.groupBy("g").agg(
        (F.lit(2.0) * F.percentile("v", F.lit(0.5)))
        .cast("long")
        .alias("m2")
    )
    z = s.join(F.broadcast(med), "g").select(
        "g", F.abs(F.lit(2) * F.col("v") - F.col("m2")).alias("z")
    )
    zd = F.col("z").cast("decimal(18,0)")
    pg = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(zd).cast("decimal(38,0)").alias("sz"),
        F.sum(zd * zd).cast("decimal(38,0)").alias("qz"),
    )
    w_all = Window.partitionBy()
    t = pg.select(
        "n_g",
        "sz",
        "qz",
        F.sum("n_g").over(w_all).alias("nn"),
        F.sum("sz").over(w_all).alias("szz"),
    )
    n_g_d = F.col("n_g").cast("double")
    sz_d = F.col("sz").cast("double")
    qz_d = F.col("qz").cast("double")
    nn_d = F.col("nn").cast("double")
    szz_d = F.col("szz").cast("double")
    diff = sz_d / n_g_d / F.lit(BF_DESCALE) - szz_d / nn_d / F.lit(
        BF_DESCALE
    )
    ssb_term = n_g_d * diff * diff
    ssw_term = (qz_d - sz_d / n_g_d * sz_d) / F.lit(
        BF_DESCALE * BF_DESCALE
    )
    q = t.agg(
        F.max("nn").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(_nearest_long_away(ssb_term * F.lit(float(BF_SSB_SCALE))))
        .cast("long")
        .alias("ssb_s"),
        F.sum(_nearest_long_away(ssw_term * F.lit(BF_SSW_SCALE)))
        .cast("long")
        .alias("ssw_s"),
    )
    ssb = F.col("ssb_s").cast("double") / F.lit(float(BF_SSB_SCALE))
    ssw = F.col("ssw_s").cast("double") / F.lit(BF_SSW_SCALE)
    n_d = F.col("n").cast("double")
    k_d = F.col("k").cast("double")
    w_stat = (ssb / (k_d - F.lit(1.0))) / (ssw / (n_d - k_d))
    return q.filter((F.col("ssw_s") > 0) & (F.col("n") > F.col("k"))).select(
        F.col("n").alias("n_orders"),
        F.col("k").cast("int").alias("k_groups"),
        dround(ssb, 4).alias("ss_between"),
        dround(ssw, 4).alias("ss_within"),
        dround(w_stat, 6).alias("bf_w"),
    )


QUERIES["agg_levene_brown_forsythe"] = agg_levene_brown_forsythe

ORACLE["agg_levene_brown_forsythe"] = (
    "WITH s AS (SELECT o_orderpriority AS g, "
    "CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS v FROM orders), "
    "med AS (SELECT g, CAST(2.0 * quantile_cont(v, 0.5) AS BIGINT) AS m2 "
    "FROM s GROUP BY 1), "
    "z AS (SELECT s.g, ABS(2 * s.v - med.m2) AS z "
    "FROM s JOIN med USING (g)), "
    "pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g, "
    "CAST(SUM(CAST(z AS HUGEINT)) AS HUGEINT) AS sz, "
    "SUM(CAST(z AS HUGEINT) * z) AS qz FROM z GROUP BY 1), "
    "t AS (SELECT n_g, sz, qz, SUM(n_g) OVER () AS nn, "
    "SUM(sz) OVER () AS szz FROM pg), "
    "q AS (SELECT CAST(MAX(nn) AS BIGINT) AS n, "
    "CAST(COUNT(*) AS BIGINT) AS k, "
    "CAST(SUM(CAST(ROUND(CAST(n_g AS DOUBLE) "
    "* (CAST(sz AS DOUBLE) / CAST(n_g AS DOUBLE) / 20000.0 "
    "- CAST(szz AS DOUBLE) / CAST(nn AS DOUBLE) / 20000.0) "
    "* (CAST(sz AS DOUBLE) / CAST(n_g AS DOUBLE) / 20000.0 "
    "- CAST(szz AS DOUBLE) / CAST(nn AS DOUBLE) / 20000.0) "
    f"* {float(BF_SSB_SCALE)}) AS BIGINT)) AS BIGINT) AS ssb_s, "
    "CAST(SUM(CAST(ROUND((CAST(qz AS DOUBLE) "
    "- CAST(sz AS DOUBLE) / CAST(n_g AS DOUBLE) * CAST(sz AS DOUBLE)) "
    f"/ 400000000.0 * {BF_SSW_SCALE}) AS BIGINT)) AS BIGINT) AS ssw_s "
    "FROM t) "
    "SELECT n AS n_orders, CAST(k AS INT) AS k_groups, "
    f"ROUND(CAST(ssb_s AS DOUBLE) / {float(BF_SSB_SCALE)}, 4) "
    "AS ss_between, "
    f"ROUND(CAST(ssw_s AS DOUBLE) / {BF_SSW_SCALE}, 4) AS ss_within, "
    f"ROUND((CAST(ssb_s AS DOUBLE) / {float(BF_SSB_SCALE)} "
    "/ (CAST(k AS DOUBLE) - 1.0)) "
    f"/ (CAST(ssw_s AS DOUBLE) / {BF_SSW_SCALE} "
    "/ (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS bf_w "
    "FROM q WHERE ssw_s > 0 AND n > k"
)


# --- Mood's median test ----------------------------------------------------------------

MOOD_SCALE = 1_000_000  # per-cell chi-square term quantization


def agg_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Mood's median test** (Mood 1950) across the five priorities:
    dichotomize every order at the GRAND median price and chi-square
    the resulting 2×k table — the nonparametric location test that
    survives arbitrary outliers (50% breakdown), the blunter, more
    robust sibling of `agg_kruskal_wallis` (which uses full ranks).

    Determinism: the grand median doubles to an exact integer (the
    `agg_levene_brown_forsythe` device), so every above/below count is
    an exact integer classification; the 2×k chi-square runs in the
    `agg_chi_square_independence` exact form — each cell's (O−E)²/E as
    (n·O − r·c)²/(n·r·c) off exact integers, quantized per cell to
    scaled int64 before the exact cross-cell sum. Both margins are
    strictly positive by construction (the median is interior), so the
    divisions are total.

    Scale: one global exact-percentile aggregate broadcast onto orders,
    one map-side-combinable count aggregate, then all algebra on the
    k-row frame."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    s = orders.select(
        F.col("o_orderpriority").alias("g"),
        _nearest_long_away(F.col("o_totalprice") * 10000).alias("v"),
    )
    gm = s.agg(
        (F.lit(2.0) * F.percentile("v", F.lit(0.5)))
        .cast("long")
        .alias("m2")
    )
    cells = (
        s.crossJoin(F.broadcast(gm))
        .select(
            "g",
            F.when(F.lit(2) * F.col("v") > F.col("m2"), 1)
            .otherwise(0)
            .alias("above"),
        )
        .groupBy("g")
        .agg(
            F.sum("above").cast("long").alias("n_above"),
            F.sum(F.lit(1) - F.col("above")).cast("long").alias("n_le"),
        )
    )
    w_all = Window.partitionBy()
    t = cells.select(
        "g",
        "n_above",
        "n_le",
        (F.col("n_above") + F.col("n_le")).alias("r"),
        F.sum("n_above").over(w_all).alias("c_ab"),
        F.sum("n_le").over(w_all).alias("c_le"),
        F.sum(F.col("n_above") + F.col("n_le")).over(w_all).alias("n"),
    )

    def cell_term(o, c):
        dev = d38("n") * d38(o) - d38("r") * d38(c)
        return (dev * dev).cast("double") / (
            d38("n") * d38("r") * d38(c)
        ).cast("double")

    from ..functions.numerics import _nearest_long_away as _nla

    stat = t.agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            _nla(
                (
                    cell_term(F.col("n_above"), F.col("c_ab"))
                    + cell_term(F.col("n_le"), F.col("c_le"))
                )
                * F.lit(float(MOOD_SCALE))
            )
        )
        .cast("long")
        .alias("t_s"),
    )
    out = cells.crossJoin(F.broadcast(stat))
    return out.select(
        F.col("g").alias("priority"),
        "n_above",
        F.col("n_le").alias("n_below_eq"),
        dround(
            F.col("n_above").cast("double")
            / (F.col("n_above") + F.col("n_le")).cast("double"),
            6,
        ).alias("share_above"),
        dround(
            F.col("t_s").cast("double") / F.lit(float(MOOD_SCALE)), 6
        ).alias("chi2"),
        (F.col("k") - F.lit(1)).cast("int").alias("df"),
    ).orderBy("priority")


QUERIES["agg_mood_median_test"] = agg_mood_median_test

ORACLE["agg_mood_median_test"] = (
    "WITH s AS (SELECT o_orderpriority AS g, "
    "CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS v FROM orders), "
    "gm AS (SELECT CAST(2.0 * quantile_cont(v, 0.5) AS BIGINT) AS m2 "
    "FROM s), "
    "cells AS (SELECT g, "
    "CAST(SUM(CASE WHEN 2 * v > m2 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_above, "
    "CAST(SUM(CASE WHEN 2 * v > m2 THEN 0 ELSE 1 END) AS BIGINT) "
    "AS n_le FROM s, gm GROUP BY 1), "
    "t AS (SELECT g, n_above, n_le, n_above + n_le AS r, "
    "SUM(n_above) OVER () AS c_ab, SUM(n_le) OVER () AS c_le, "
    "SUM(n_above + n_le) OVER () AS n FROM cells), "
    "stat AS (SELECT CAST(MAX(n) AS BIGINT) AS n, "
    "CAST(COUNT(*) AS BIGINT) AS k, "
    "CAST(SUM(CAST(ROUND(("
    "CAST((CAST(n AS HUGEINT) * n_above - CAST(r AS HUGEINT) * c_ab) "
    "* (CAST(n AS HUGEINT) * n_above - CAST(r AS HUGEINT) * c_ab) "
    "AS DOUBLE) / CAST(CAST(n AS HUGEINT) * r * c_ab AS DOUBLE) "
    "+ CAST((CAST(n AS HUGEINT) * n_le - CAST(r AS HUGEINT) * c_le) "
    "* (CAST(n AS HUGEINT) * n_le - CAST(r AS HUGEINT) * c_le) "
    "AS DOUBLE) / CAST(CAST(n AS HUGEINT) * r * c_le AS DOUBLE)) "
    f"* {float(MOOD_SCALE)}) AS BIGINT)) AS BIGINT) AS t_s FROM t) "
    "SELECT g AS priority, n_above, n_le AS n_below_eq, "
    "ROUND(CAST(n_above AS DOUBLE) / CAST(n_above + n_le AS DOUBLE), 6) "
    "AS share_above, "
    f"ROUND(CAST(t_s AS DOUBLE) / {float(MOOD_SCALE)}, 6) AS chi2, "
    "CAST(k - 1 AS INT) AS df "
    "FROM cells, stat ORDER BY priority"
)


# --- Grubbs maximum-studentized-deviate outlier test -----------------------------------


def agg_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Grubbs' test statistic** (Grubbs 1950) on the monthly total-
    revenue series: G = max|x − x̄| / s — which single month is the
    most anomalous, and how many sample standard deviations out it
    sits. The SERIES-level outlier test beside `dq_anomaly_zscore`'s
    per-row flags and `dq_anomaly_mad`'s robust companion (Grubbs is
    the classical normal-theory statistic dashboards quote).

    Determinism: monthly revenue is an exact 1e4-scaled int64 sum; the
    deviation ARGMAX runs over exact integers — |n·x − S| in
    DECIMAL(38,0) ≡ HUGEINT, so the suspect month is found without a
    single float compare (ties break on the month key); mean, sample
    sd (via n·Q − S² exact) and G are fixed-shape doubles off the
    exact integers, `dround`ed.

    Scale: one corpus-sized monthly rollup (map-side combinable);
    everything after runs on the ~month-count frame (two tiny
    windows)."""
    orders = read_table(spark, sf_dir, "orders")
    m = monthly_revenue(orders)
    w_all = Window.partitionBy()
    vd = F.col("rev_s").cast("decimal(38,0)")
    t = m.select(
        "mon",
        "rev_s",
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum(vd).over(w_all).alias("s1"),
        F.sum(vd * F.col("rev_s")).over(w_all).alias("q2"),
    )
    dev = F.abs(
        F.col("n").cast("decimal(38,0)") * vd - F.col("s1")
    ).alias("dev")
    t2 = t.select("mon", "rev_s", "n", "s1", "q2", dev)
    top = top_k(t2, (), 1, F.col("dev").desc(), F.col("mon").asc())
    n_d = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n_d / F.lit(10_000.0)
    m2 = (
        F.col("n").cast("decimal(38,0)") * F.col("q2")
        - F.col("s1") * F.col("s1")
    )
    sd = F.sqrt(
        m2.cast("double") / (n_d * (n_d - F.lit(1.0)))
    ) / F.lit(10_000.0)
    g = (
        F.col("dev").cast("double") / n_d / F.lit(10_000.0)
    ) / sd
    return top.filter(F.col("n") > 2).select(
        F.col("n").cast("long").alias("n_months"),
        dround(mean, 4).alias("mean_revenue"),
        dround(sd, 4).alias("sd_revenue"),
        F.col("mon").alias("suspect_month"),
        F.round(F.col("rev_s") / 10_000.0, 4).alias("suspect_revenue"),
        dround(g, 6).alias("g_stat"),
    )


QUERIES["agg_grubbs_outlier"] = agg_grubbs_outlier

ORACLE["agg_grubbs_outlier"] = (
    "WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) "
    "AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1), "
    "t AS (SELECT mon, rev_s, "
    "CAST(COUNT(*) OVER () AS BIGINT) AS n, "
    "SUM(CAST(rev_s AS HUGEINT)) OVER () AS s1, "
    "SUM(CAST(rev_s AS HUGEINT) * rev_s) OVER () AS q2 FROM m), "
    "t2 AS (SELECT mon, rev_s, n, s1, q2, "
    "ABS(CAST(n AS HUGEINT) * rev_s - s1) AS dev FROM t), "
    "top AS (SELECT *, ROW_NUMBER() OVER (ORDER BY dev DESC, mon ASC) "
    "AS rn FROM t2) "
    "SELECT n AS n_months, "
    "ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0, 4) "
    "AS mean_revenue, "
    "ROUND(sqrt(CAST(CAST(n AS HUGEINT) * q2 - s1 * s1 AS DOUBLE) "
    "/ (CAST(n AS DOUBLE) "
    "* (CAST(n AS DOUBLE) - 1.0))) / 10000.0, 4) AS sd_revenue, "
    "mon AS suspect_month, "
    "ROUND(CAST(rev_s AS DOUBLE) / 10000.0, 4) AS suspect_revenue, "
    "ROUND((CAST(dev AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0) "
    "/ (sqrt(CAST(CAST(n AS HUGEINT) * q2 - s1 * s1 AS DOUBLE) "
    "/ (CAST(n AS DOUBLE) "
    "* (CAST(n AS DOUBLE) - 1.0))) / 10000.0), 6) AS g_stat "
    "FROM top WHERE rn = 1 AND n > 2"
)


# --- Delta-method CI for a ratio metric (revenue per line, order-randomized) -----------


def agg_delta_method_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Delta-method standard error for a ratio metric** (Deng, Knoblich
    & Lu KDD'18; Fieller 1954 lineage): revenue-per-LINE with the ORDER
    as the randomization unit — the A/B-testing estimator experiment
    platforms need whenever the analysis unit (line) is finer than the
    assignment unit (order), where the naive per-line variance is badly
    anti-conservative because lines within an order correlate:
    R = Σy_i/Σx_i over orders i, Var(R) ≈ (s_y² − 2R·s_xy + R²·s_x²)
    / (n·x̄²), CI = R ± 1.96·SE.

    Determinism: per-order y (1e4-scaled line revenue) and x (line
    count) are exact int64; all five moment sums accumulate in
    DECIMAL(38,0) ≡ HUGEINT (y² ~ 1e19 exceeds int64); every exposed
    double is a fixed-shape expression off those exact sums, `dround`ed
    (4 dp money, 6 dp SE). The z literal 1.96 is shared text.

    Scale: one lineitem-sized keyed aggregate (map-side combinable),
    one orderkey equi-join (co-partitioned fact-fact), one 5-row
    priority rollup."""
    from ..functions.numerics import dsum_scaled

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        dsum_scaled("l_extendedprice").alias("y"),
    )
    j = orders.select("o_orderkey", "o_orderpriority").join(
        per_order, "o_orderkey"
    )

    per_g = j.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d38("x")).alias("sx"),
        F.sum(d38("y")).alias("sy"),
        F.sum(d38("x") * F.col("x")).alias("qx"),
        F.sum(d38("y") * F.col("y")).alias("qy"),
        F.sum(d38("x") * F.col("y")).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    r_s = sy_d / sx_d
    xbar = sx_d / n_d
    sy2 = (F.col("qy").cast("double") - sy_d / n_d * sy_d) / (
        n_d - F.lit(1.0)
    )
    sx2 = (F.col("qx").cast("double") - sx_d / n_d * sx_d) / (
        n_d - F.lit(1.0)
    )
    sxy = (F.col("sxy").cast("double") - sx_d / n_d * sy_d) / (
        n_d - F.lit(1.0)
    )
    var_r = (
        sy2 - F.lit(2.0) * r_s * sxy + r_s * r_s * sx2
    ) / (n_d * xbar * xbar)
    se_s = F.sqrt(var_r)
    return (
        per_g.filter((F.col("n") > 1) & (F.col("sx") > 0))
        .select(
            "priority",
            F.col("n").alias("n_orders"),
            F.col("sx").cast("long").alias("n_lines"),
            dround(r_s / F.lit(10_000.0), 4).alias("revenue_per_line"),
            dround(se_s / F.lit(10_000.0), 6).alias("se"),
            dround(
                (r_s - F.lit(1.96) * se_s) / F.lit(10_000.0), 4
            ).alias("ci_lo"),
            dround(
                (r_s + F.lit(1.96) * se_s) / F.lit(10_000.0), 4
            ).alias("ci_hi"),
        )
        .orderBy("priority")
    )


QUERIES["agg_delta_method_ratio_ci"] = agg_delta_method_ratio_ci

ORACLE["agg_delta_method_ratio_ci"] = (
    "WITH po AS (SELECT l_orderkey AS o_orderkey, "
    "CAST(COUNT(*) AS BIGINT) AS x, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS y FROM lineitem GROUP BY 1), "
    "j AS (SELECT o.o_orderpriority AS priority, po.x, po.y "
    "FROM orders o JOIN po USING (o_orderkey)), "
    "g AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n, "
    "SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy, "
    "SUM(CAST(x AS HUGEINT) * x) AS qx, "
    "SUM(CAST(y AS HUGEINT) * y) AS qy, "
    "SUM(CAST(x AS HUGEINT) * y) AS sxy FROM j GROUP BY 1) "
    "SELECT priority, n AS n_orders, CAST(sx AS BIGINT) AS n_lines, "
    "ROUND(CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) / 10000.0, 4) "
    "AS revenue_per_line, "
    "ROUND(sqrt(((CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE) "
    "/ CAST(n AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) "
    "- 1.0) - 2.0 * (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)) "
    "* ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) "
    "* CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) "
    "+ (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)) * (CAST(sy AS DOUBLE) "
    "/ CAST(sx AS DOUBLE)) * ((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) "
    "/ CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) "
    "- 1.0))) / (CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) "
    "/ CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))) "
    "/ 10000.0, 6) AS se, "
    "ROUND((CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) "
    "- 1.96 * sqrt(((CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE) "
    "/ CAST(n AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) "
    "- 1.0) - 2.0 * (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)) "
    "* ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) "
    "* CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) "
    "+ (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)) * (CAST(sy AS DOUBLE) "
    "/ CAST(sx AS DOUBLE)) * ((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) "
    "/ CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) "
    "- 1.0))) / (CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) "
    "/ CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))) "
    "/ 10000.0, 4) AS ci_lo, "
    "ROUND((CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) "
    "+ 1.96 * sqrt(((CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE) "
    "/ CAST(n AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) "
    "- 1.0) - 2.0 * (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)) "
    "* ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) "
    "* CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) "
    "+ (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)) * (CAST(sy AS DOUBLE) "
    "/ CAST(sx AS DOUBLE)) * ((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) "
    "/ CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) "
    "- 1.0))) / (CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) "
    "/ CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))) "
    "/ 10000.0, 4) AS ci_hi "
    "FROM g WHERE n > 1 AND sx > 0 ORDER BY priority"
)


# --- Cochran-Armitage trend test across ordered priorities -----------------------------


def agg_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Cochran-Armitage trend test** (Cochran 1954; Armitage 1955)
    for a monotone trend in the order FINISH rate across the ORDERED
    priority scale (scores s = 1..5 parsed from the priority prefix) —
    the ordered-alternative upgrade of `agg_chi_square_independence`
    (which ignores the ordering and spends df on every deviation; CA
    spends one df on the linear trend, the question "does urgency
    actually predict completion?" a dashboard wants answered).

    Determinism: the core statistic clears denominators to three exact
    integers — a = N·Σs·r − R·Σs·n (the numerator N·T), b = R(N−R),
    c = N·Σn·s² − (Σn·s)² — accumulated in DECIMAL(38,0) ≡ HUGEINT;
    z = a/√(b·c/N) is one fixed-shape double expression off exact
    ints, `dround` 6. Both margins are interior on any mixed-status
    fixture (b > 0 filtered on the exact integer).

    Scale: one map-side-combinable conditional count aggregate over
    orders; all algebra on the 5-row group frame."""
    orders = read_table(spark, sf_dir, "orders")
    g = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("r_g"),
    )
    g = g.select(
        "priority",
        F.substring("priority", 1, 1).cast("int").alias("s"),
        "n_g",
        "r_g",
    )
    w_all = Window.partitionBy()

    t = g.select(
        "priority",
        "s",
        "n_g",
        "r_g",
        F.sum("n_g").over(w_all).alias("nn"),
        F.sum("r_g").over(w_all).alias("rr"),
        F.sum(F.col("s").cast("long") * F.col("r_g")).over(w_all).alias("ssr"),
        F.sum(F.col("s").cast("long") * F.col("n_g")).over(w_all).alias("ssn"),
        F.sum(
            F.col("s").cast("long") * F.col("s") * F.col("n_g")
        )
        .over(w_all)
        .alias("sns2"),
    )
    a = d38("nn") * d38("ssr") - d38("rr") * d38(
        F.col("ssn")
    )
    b = d38("rr") * (d38("nn") - d38("rr"))
    c = d38("nn") * d38("sns2") - d38("ssn") * d38(
        F.col("ssn")
    )
    z = a.cast("double") / F.sqrt(
        b.cast("double") * c.cast("double") / F.col("nn").cast("double")
    )
    return (
        t.filter((b > 0) & (c > 0))
        .select(
            "priority",
            "s",
            F.col("n_g").alias("n_orders"),
            F.col("r_g").alias("n_finished"),
            dround(
                F.col("r_g").cast("double") / F.col("n_g").cast("double"),
                6,
            ).alias("finish_rate"),
            dround(z, 6).alias("ca_z"),
            dround(z * z, 6).alias("ca_chi2"),
        )
        .orderBy("priority")
    )


QUERIES["agg_cochran_armitage_trend"] = agg_cochran_armitage_trend

ORACLE["agg_cochran_armitage_trend"] = (
    "WITH g AS (SELECT o_orderpriority AS priority, "
    "CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS s, "
    "CAST(COUNT(*) AS BIGINT) AS n_g, "
    "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) "
    "AS BIGINT) AS r_g FROM orders GROUP BY 1, 2), "
    "t AS (SELECT priority, s, n_g, r_g, "
    "SUM(n_g) OVER () AS nn, SUM(r_g) OVER () AS rr, "
    "SUM(CAST(s AS BIGINT) * r_g) OVER () AS ssr, "
    "SUM(CAST(s AS BIGINT) * n_g) OVER () AS ssn, "
    "SUM(CAST(s AS BIGINT) * s * n_g) OVER () AS sns2 FROM g) "
    "SELECT priority, s, n_g AS n_orders, r_g AS n_finished, "
    "ROUND(CAST(r_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) "
    "AS finish_rate, "
    "ROUND(CAST(CAST(nn AS HUGEINT) * ssr "
    "- CAST(rr AS HUGEINT) * ssn AS DOUBLE) "
    "/ sqrt(CAST(CAST(rr AS HUGEINT) * (CAST(nn AS HUGEINT) - rr) "
    "AS DOUBLE) * CAST(CAST(nn AS HUGEINT) * sns2 "
    "- CAST(ssn AS HUGEINT) * ssn AS DOUBLE) "
    "/ CAST(nn AS DOUBLE)), 6) AS ca_z, "
    "ROUND((CAST(CAST(nn AS HUGEINT) * ssr "
    "- CAST(rr AS HUGEINT) * ssn AS DOUBLE) "
    "/ sqrt(CAST(CAST(rr AS HUGEINT) * (CAST(nn AS HUGEINT) - rr) "
    "AS DOUBLE) * CAST(CAST(nn AS HUGEINT) * sns2 "
    "- CAST(ssn AS HUGEINT) * ssn AS DOUBLE) "
    "/ CAST(nn AS DOUBLE))) * (CAST(CAST(nn AS HUGEINT) * ssr "
    "- CAST(rr AS HUGEINT) * ssn AS DOUBLE) "
    "/ sqrt(CAST(CAST(rr AS HUGEINT) * (CAST(nn AS HUGEINT) - rr) "
    "AS DOUBLE) * CAST(CAST(nn AS HUGEINT) * sns2 "
    "- CAST(ssn AS HUGEINT) * ssn AS DOUBLE) "
    "/ CAST(nn AS DOUBLE))), 6) AS ca_chi2 "
    "FROM t WHERE CAST(rr AS HUGEINT) * (CAST(nn AS HUGEINT) - rr) > 0 "
    "AND CAST(nn AS HUGEINT) * sns2 - CAST(ssn AS HUGEINT) * ssn > 0 "
    "ORDER BY priority"
)


# --- G-test (likelihood-ratio) independence --------------------------------------------

GTEST_SCALE = 1_000_000  # per-cell term quantization


def agg_gtest_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**G-test of independence** (Sokal & Rohlf; Woolf 1957) between
    order STATUS and PRIORITY: G = 2·Σ O·ln(N·O/(r·c)) — the
    likelihood-ratio twin of `agg_chi_square_independence` (additively
    decomposable across table partitions, which Pearson χ² is not;
    the version information-theoretic pipelines prefer since G =
    2N·MI in nats — the bridge to `agg_mutual_information`).

    Determinism: the margins/total join is the chi-square device; each
    cell's O·ln(N·O/(r·c)) double (one ln of a ratio of exact sub-2^53
    integers) quantizes to scaled int64 per CELL before the exact
    cross-cell sum, and G is one descale+double, `dround` 6.

    Scale: one map-side-combinable count aggregate over orders;
    margins broadcast back; cell algebra on the R×C frame."""
    orders = read_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_m = cells.groupBy("s").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("p").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("s").alias("nr"),
        F.countDistinct("p").alias("nc"),
    )
    joined = (
        cells.join(F.broadcast(rows_m), "s")
        .join(F.broadcast(cols_m), "p")
        .crossJoin(F.broadcast(tot))
    )
    o_d = F.col("o").cast("double")
    term = o_d * F.log(
        F.col("n").cast("double")
        * o_d
        / (F.col("r").cast("double") * F.col("c").cast("double"))
    )
    return (
        joined.groupBy("n", "nr", "nc")
        .agg(dsum_scaled(term, GTEST_SCALE).alias("t_s"))
        .select(
            F.col("n").cast("long").alias("n_orders"),
            ((F.col("nr") - F.lit(1)) * (F.col("nc") - F.lit(1)))
            .cast("int")
            .alias("df"),
            dround(
                F.lit(2.0)
                * F.col("t_s").cast("double")
                / F.lit(float(GTEST_SCALE)),
                6,
            ).alias("g_stat"),
        )
    )


QUERIES["agg_gtest_independence"] = agg_gtest_independence

ORACLE["agg_gtest_independence"] = (
    "WITH cells AS (SELECT o_orderstatus AS s, o_orderpriority AS p, "
    "CAST(COUNT(*) AS BIGINT) AS o FROM orders GROUP BY 1, 2), "
    "rm AS (SELECT s, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1), "
    "cm AS (SELECT p, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1), "
    "tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n, "
    "CAST(COUNT(DISTINCT s) AS BIGINT) AS nr, "
    "CAST(COUNT(DISTINCT p) AS BIGINT) AS nc FROM cells), "
    "t AS (SELECT n, nr, nc, "
    "CAST(SUM(CAST(ROUND(CAST(o AS DOUBLE) "
    "* ln(CAST(n AS DOUBLE) * CAST(o AS DOUBLE) "
    "/ (CAST(r AS DOUBLE) * CAST(c AS DOUBLE))) "
    f"* {GTEST_SCALE}) AS BIGINT)) AS BIGINT) AS t_s "
    "FROM cells JOIN rm USING (s) JOIN cm USING (p), tot "
    "GROUP BY 1, 2, 3) "
    "SELECT n AS n_orders, CAST((nr - 1) * (nc - 1) AS INT) AS df, "
    f"ROUND(2.0 * CAST(t_s AS DOUBLE) / {float(GTEST_SCALE)}, 6) "
    "AS g_stat FROM t"
)


# --- Winsorized mean (10% per tail clamped, not dropped) -------------------------------


def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Exact winsorized mean** (10% per tail — Winsor via Tukey 1962)
    of order value per year: rank each year's orders, CLAMP the k =
    floor(n/10) most extreme values at each tail to the boundary order
    statistics v₍k+1₎ / v₍n−k₎, average all n — the robust-location
    estimator that (unlike `agg_trimmed_mean`, which drops the tails)
    keeps n constant and so composes with downstream per-year counts;
    the rank-based batch form of `norm_winsorize_clip`'s fixed-quantile
    clamp.

    Determinism: pure integer logic — the clamp boundary is a
    ROW_NUMBER with the unique order-key tiebreak, boundary values are
    exact scaled int64 picked by rank equality, and the winsorized sum
    k·v₍k+1₎ + Σ_middle + k·v₍n−k₎ is exact integer arithmetic end to
    end; means are single divisions, 4-dp.

    Scale: exact fully-parallel ranks via `_year_ranked_orders` (range
    repartition + slice sort + broadcast offset table — round 14; the
    per-year window this replaces sorted each year in ONE task, 2.7 s
    at 30x vs ~0.6 s now), then one map-combinable aggregate."""
    from ..functions.numerics import _nearest_long_away

    r = _year_ranked_orders(spark, sf_dir).select(
        "year",
        _nearest_long_away(F.col("o_totalprice") * 10000).alias("v"),
        "rn",
        "n",
    )
    k = F.floor(F.col("n") / 10)
    mid = (F.col("rn") > k) & (F.col("rn") <= F.col("n") - k)
    agg = r.groupBy("year").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.max(k).cast("long").alias("k_wins"),
        F.max(F.when(F.col("rn") == k + 1, F.col("v"))).alias("lo_s"),
        F.max(F.when(F.col("rn") == F.col("n") - k, F.col("v"))).alias(
            "hi_s"
        ),
        F.sum(F.when(mid, F.col("v")).otherwise(F.lit(0)))
        .cast("long")
        .alias("mid_s"),
        F.sum("v").cast("long").alias("all_s"),
    )
    win_s = (
        F.col("k_wins") * F.col("lo_s")
        + F.col("mid_s")
        + F.col("k_wins") * F.col("hi_s")
    )
    return agg.select(
        "year",
        "n_orders",
        "k_wins",
        F.round(F.col("lo_s") / 10_000.0, 4).alias("lo_clamp"),
        F.round(F.col("hi_s") / 10_000.0, 4).alias("hi_clamp"),
        dround(
            F.col("all_s").cast("double")
            / 10_000.0
            / F.col("n_orders").cast("double"),
            4,
        ).alias("mean_price"),
        dround(
            win_s.cast("double")
            / 10_000.0
            / F.col("n_orders").cast("double"),
            4,
        ).alias("winsorized_mean_price"),
    ).orderBy("year")


QUERIES["agg_winsorized_mean"] = agg_winsorized_mean

ORACLE["agg_winsorized_mean"] = (
    "WITH r AS (SELECT CAST(year(o_orderdate) AS INT) AS year, "
    "CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS v, "
    "ROW_NUMBER() OVER (PARTITION BY year(o_orderdate) "
    "ORDER BY o_totalprice, o_orderkey) AS rn, "
    "COUNT(*) OVER (PARTITION BY year(o_orderdate)) AS n FROM orders), "
    "a AS (SELECT year, CAST(MAX(n) AS BIGINT) AS n_orders, "
    "CAST(MAX(n // 10) AS BIGINT) AS k_wins, "
    "CAST(MAX(CASE WHEN rn = n // 10 + 1 THEN v END) AS BIGINT) "
    "AS lo_s, "
    "CAST(MAX(CASE WHEN rn = n - n // 10 THEN v END) AS BIGINT) "
    "AS hi_s, "
    "CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10 "
    "THEN v ELSE 0 END) AS BIGINT) AS mid_s, "
    "CAST(SUM(v) AS BIGINT) AS all_s FROM r GROUP BY 1) "
    "SELECT year, n_orders, k_wins, "
    "ROUND(CAST(lo_s AS DOUBLE) / 10000.0, 4) AS lo_clamp, "
    "ROUND(CAST(hi_s AS DOUBLE) / 10000.0, 4) AS hi_clamp, "
    "ROUND(CAST(all_s AS DOUBLE) / 10000.0 "
    "/ CAST(n_orders AS DOUBLE), 4) AS mean_price, "
    "ROUND(CAST(k_wins * lo_s + mid_s + k_wins * hi_s AS DOUBLE) "
    "/ 10000.0 / CAST(n_orders AS DOUBLE), 4) "
    "AS winsorized_mean_price "
    "FROM a ORDER BY year"
)


# --- Deterministic A/B assignment + sample-ratio-mismatch check ------------------------


def agg_srm_assignment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Hash-bucketed A/B assignment with a sample-ratio-mismatch
    (SRM) guardrail** (Fabijan et al. KDD'19 — the first diagnostic
    every experimentation platform runs): assign each order to
    control/treatment by a PORTABLE salted-md5 parity (the
    `agg_halfsample_ci` device — no RNG state, reproducible on any
    cluster layout), then chi-square the realized split against the
    designed 50/50. For two cells the statistic collapses to
    (n₀−n₁)²/n — ONE division of exact integers (and it is symmetric
    in the arms, so both rows carry the same value). The per-arm mean
    of the metric is emitted beside it — the table a reviewer reads
    before trusting any downstream test (`agg_delta_method_ratio_ci`,
    `agg_welch_ttest`).

    Determinism: assignment is a pure function of the order key; every
    count is exact; means divide exact scaled-int sums; the flag
    compares the identical unrounded double to the 1-df 5% critical
    value 3.841 in both engines.

    Scale: one map-side-combinable conditional aggregate over orders;
    all algebra on the 2-row arm frame."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    arm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("ab:"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    g = orders.select(
        F.when(arm == 0, "control").otherwise("treatment").alias("arm"),
        _nearest_long_away(F.col("o_totalprice") * 10000).alias("v"),
    ).groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("v").cast("long").alias("s_g"),
    )
    w_all = Window.partitionBy()
    t = g.select(
        "arm",
        "n_g",
        "s_g",
        F.sum("n_g").over(w_all).alias("n"),
    )
    diff = F.lit(2) * F.col("n_g") - F.col("n")
    chi2 = (diff * diff).cast("double") / F.col("n").cast("double")
    return t.select(
        "arm",
        F.col("n_g").alias("n_assigned"),
        dround(
            F.col("n_g").cast("double") / F.col("n").cast("double"), 6
        ).alias("share"),
        dround(
            F.col("s_g").cast("double")
            / 10_000.0
            / F.col("n_g").cast("double"),
            4,
        ).alias("mean_price"),
        dround(chi2, 6).alias("srm_chi2"),
        (chi2 > F.lit(3.841)).cast("int").alias("srm_flag"),
    ).orderBy("arm")


QUERIES["agg_srm_assignment_check"] = agg_srm_assignment_check

ORACLE["agg_srm_assignment_check"] = (
    "WITH g AS (SELECT CASE WHEN "
    "CAST(('0x' || substr(md5('ab:' || CAST(o_orderkey AS VARCHAR)), "
    "1, 8)) AS BIGINT) % 2 = 0 THEN 'control' ELSE 'treatment' END "
    "AS arm, "
    "CAST(COUNT(*) AS BIGINT) AS n_g, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS s_g FROM orders GROUP BY 1), "
    "t AS (SELECT arm, n_g, s_g, SUM(n_g) OVER () AS n FROM g) "
    "SELECT arm, n_g AS n_assigned, "
    "ROUND(CAST(n_g AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share, "
    "ROUND(CAST(s_g AS DOUBLE) / 10000.0 / CAST(n_g AS DOUBLE), 4) "
    "AS mean_price, "
    "ROUND(CAST((2 * n_g - n) * (2 * n_g - n) AS DOUBLE) "
    "/ CAST(n AS DOUBLE), 6) AS srm_chi2, "
    "CAST(CAST((2 * n_g - n) * (2 * n_g - n) AS DOUBLE) "
    "/ CAST(n AS DOUBLE) > 3.841 AS INT) AS srm_flag "
    "FROM t ORDER BY arm"
)


# --- Gumbel extreme-value fit of monthly block maxima ----------------------------------

GUMBEL_GAMMA = 0.5772156649015329  # Euler-Mascheroni, shared literal
GUMBEL_PI = 3.141592653589793


def agg_extreme_value_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Gumbel extreme-value fit** (Gumbel 1958; the method-of-moments
    fit of Coles §3) of MONTHLY BLOCK MAXIMA of daily revenue: β =
    s·√6/π, μ = m − γ·β, and the T=12-block return level x_T = μ −
    β·ln(−ln(1−1/T)) — "the daily revenue spike you should expect
    about once a year". The tail-risk member of the profile family:
    `agg_percentiles` describes the bulk, `dq_outlier_iqr_fences`
    flags today's outliers, the Gumbel fit EXTRAPOLATES the maxima
    process (capacity planning reads x_T, not p99).

    Determinism: block maxima are exact int64 (max of 1e4-scaled daily
    sums); the moment sums n/Σ/Σ² accumulate in DECIMAL(38,0) ≡
    HUGEINT; β/μ/x_T are fixed-shape doubles off the exact integers
    with γ and π as shared literals (√6 and the double-ln are single
    correctly-rounded IEEE ops), `dround`ed.

    Scale: one corpus-sized daily rollup (map-side combinable), one
    tiny monthly max, one 1-row moment aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(dsum_scaled("o_totalprice").alias("d_s"))
    bm = daily.groupBy(
        F.date_trunc("month", "day").alias("mon")
    ).agg(F.max("d_s").alias("mx"))
    mxd = F.col("mx").cast("decimal(38,0)")
    stats = bm.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(mxd).alias("s1"),
        F.sum(mxd * F.col("mx")).alias("q2"),
    )
    n_d = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n_d / F.lit(10_000.0)
    m2 = (
        F.col("n").cast("decimal(38,0)") * F.col("q2")
        - F.col("s1") * F.col("s1")
    )
    sd = F.sqrt(
        m2.cast("double") / (n_d * (n_d - F.lit(1.0)))
    ) / F.lit(10_000.0)
    beta = sd * F.sqrt(F.lit(6.0)) / F.lit(GUMBEL_PI)
    mu = mean - F.lit(GUMBEL_GAMMA) * beta
    rl12 = mu - beta * F.log(-F.log(F.lit(11.0) / F.lit(12.0)))
    return stats.filter(F.col("n") > 2).select(
        F.col("n").alias("n_blocks"),
        dround(mean, 4).alias("mean_block_max"),
        dround(sd, 4).alias("sd_block_max"),
        dround(mu, 4).alias("gumbel_mu"),
        dround(beta, 4).alias("gumbel_beta"),
        dround(rl12, 4).alias("return_level_12"),
    )


QUERIES["agg_extreme_value_gumbel"] = agg_extreme_value_gumbel

ORACLE["agg_extreme_value_gumbel"] = (
    "WITH d AS (SELECT CAST(date_trunc('day', o_orderdate) "
    "AS TIMESTAMP) AS day, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS d_s FROM orders GROUP BY 1), "
    "bm AS (SELECT CAST(date_trunc('month', day) AS TIMESTAMP) AS mon, "
    "CAST(MAX(d_s) AS BIGINT) AS mx FROM d GROUP BY 1), "
    "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    "SUM(CAST(mx AS HUGEINT)) AS s1, "
    "SUM(CAST(mx AS HUGEINT) * mx) AS q2 FROM bm) "
    "SELECT n AS n_blocks, "
    "ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0, 4) "
    "AS mean_block_max, "
    "ROUND(sqrt(CAST(CAST(n AS HUGEINT) * q2 - s1 * s1 AS DOUBLE) "
    "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 10000.0, 4) "
    "AS sd_block_max, "
    "ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 "
    f"- {GUMBEL_GAMMA!r} * (sqrt(CAST(CAST(n AS HUGEINT) * q2 "
    "- s1 * s1 AS DOUBLE) / (CAST(n AS DOUBLE) "
    "* (CAST(n AS DOUBLE) - 1.0))) / 10000.0 * sqrt(6.0) "
    f"/ {GUMBEL_PI!r}), 4) AS gumbel_mu, "
    "ROUND(sqrt(CAST(CAST(n AS HUGEINT) * q2 - s1 * s1 AS DOUBLE) "
    "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 10000.0 "
    f"* sqrt(6.0) / {GUMBEL_PI!r}, 4) AS gumbel_beta, "
    "ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 "
    f"- {GUMBEL_GAMMA!r} * (sqrt(CAST(CAST(n AS HUGEINT) * q2 "
    "- s1 * s1 AS DOUBLE) / (CAST(n AS DOUBLE) "
    "* (CAST(n AS DOUBLE) - 1.0))) / 10000.0 * sqrt(6.0) "
    f"/ {GUMBEL_PI!r}) "
    "- (sqrt(CAST(CAST(n AS HUGEINT) * q2 - s1 * s1 AS DOUBLE) "
    "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 10000.0 "
    f"* sqrt(6.0) / {GUMBEL_PI!r}) * ln(-ln(11.0 / 12.0)), 4) "
    "AS return_level_12 "
    "FROM st WHERE n > 2"
)


# --- McNemar test of year-over-year customer activity ----------------------------------


def agg_mcnemar_yearly_activity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**McNemar's test** (McNemar 1947) on PAIRED year-over-year
    customer activity: for each consecutive year pair, every customer
    is a matched pair (active-in-y, active-in-y+1), and the test asks
    whether churn (active→inactive) and acquisition (inactive→active)
    are balanced — marginal homogeneity, χ² = (b−c)²/(b+c) on the
    discordant counts only. The PAIRED member of the testing family
    (`agg_two_proportion_ztest` compares independent groups; customer
    activity across adjacent years is anything but independent), and
    the significance layer over `retention_cohorts`' descriptive
    rates. The continuity-corrected form (max(|b−c|−1,0))²/(b+c) is
    emitted beside the raw statistic.

    Determinism: activity is a distinct (customer, year) projection;
    all four pair-cell counts are exact integers off ONE full outer
    join of the activity set with itself shifted by a year; both
    statistics are single divisions of exact ints, `dround` 6.

    Scale: one distinct aggregate, one (customer, year) equi-join
    (co-partitioned), one year-count rollup."""
    orders = read_table(spark, sf_dir, "orders")
    act = (
        orders.select(
            F.col("o_custkey").alias("cust"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .distinct()
        # consumed three times (cur, shifted, bounds) — materialize once
        # instead of re-running the corpus distinct per consumer (rule 5)
        .localCheckpoint(eager=True)
    )
    nxt = act.select(
        "cust", (F.col("yr") - F.lit(1)).alias("yr"), F.lit(1).alias("b")
    )
    cur = act.select("cust", "yr", F.lit(1).alias("a"))
    j = cur.join(nxt, ["cust", "yr"], "full").select(
        "yr",
        F.coalesce(F.col("a"), F.lit(0)).alias("a"),
        F.coalesce(F.col("b"), F.lit(0)).alias("b"),
    )
    bounds = act.agg(
        F.min("yr").alias("y_min"), F.max("yr").alias("y_max")
    )
    g = (
        j.groupBy("yr")
        .agg(
            F.sum(F.col("a") * F.col("b")).cast("long").alias("n_both"),
            F.sum(F.col("a") * (F.lit(1) - F.col("b")))
            .cast("long")
            .alias("n_churned"),
            F.sum((F.lit(1) - F.col("a")) * F.col("b"))
            .cast("long")
            .alias("n_acquired"),
        )
        .crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("yr") >= F.col("y_min")) & (F.col("yr") < F.col("y_max"))
        )
    )
    b = F.col("n_churned")
    c = F.col("n_acquired")
    disc = (b + c).cast("double")
    chi2 = ((b - c) * (b - c)).cast("double") / disc
    cc_num = F.greatest(F.abs(b - c) - F.lit(1), F.lit(0)).cast("long")
    cc = (cc_num * cc_num).cast("double") / disc
    return (
        g.filter((b + c) > 0)
        .select(
            F.col("yr").alias("year_from"),
            (F.col("yr") + F.lit(1)).cast("int").alias("year_to"),
            "n_both",
            "n_churned",
            "n_acquired",
            dround(chi2, 6).alias("mcnemar_chi2"),
            dround(cc, 6).alias("mcnemar_cc_chi2"),
        )
        .orderBy("year_from")
    )


QUERIES["agg_mcnemar_yearly_activity"] = agg_mcnemar_yearly_activity

ORACLE["agg_mcnemar_yearly_activity"] = (
    "WITH act AS (SELECT DISTINCT o_custkey AS cust, "
    "CAST(year(o_orderdate) AS INT) AS yr FROM orders), "
    "cur AS (SELECT cust, yr, 1 AS a FROM act), "
    "nxt AS (SELECT cust, yr - 1 AS yr, 1 AS b FROM act), "
    "j AS (SELECT COALESCE(cur.yr, nxt.yr) AS yr, "
    "COALESCE(a, 0) AS a, COALESCE(b, 0) AS b "
    "FROM cur FULL OUTER JOIN nxt "
    "ON cur.cust = nxt.cust AND cur.yr = nxt.yr), "
    "bounds AS (SELECT MIN(yr) AS y_min, MAX(yr) AS y_max FROM act), "
    "g AS (SELECT yr, CAST(SUM(a * b) AS BIGINT) AS n_both, "
    "CAST(SUM(a * (1 - b)) AS BIGINT) AS n_churned, "
    "CAST(SUM((1 - a) * b) AS BIGINT) AS n_acquired "
    "FROM j GROUP BY 1) "
    "SELECT yr AS year_from, CAST(yr + 1 AS INT) AS year_to, "
    "n_both, n_churned, n_acquired, "
    "ROUND(CAST((n_churned - n_acquired) * (n_churned - n_acquired) "
    "AS DOUBLE) / CAST(n_churned + n_acquired AS DOUBLE), 6) "
    "AS mcnemar_chi2, "
    "ROUND(CAST(GREATEST(ABS(n_churned - n_acquired) - 1, 0) "
    "* GREATEST(ABS(n_churned - n_acquired) - 1, 0) AS DOUBLE) "
    "/ CAST(n_churned + n_acquired AS DOUBLE), 6) AS mcnemar_cc_chi2 "
    "FROM g, bounds WHERE yr >= y_min AND yr < y_max "
    "AND n_churned + n_acquired > 0 ORDER BY year_from"
)


# --- Lincoln-Petersen / Chapman capture-recapture coverage estimate --------------------


def agg_capture_recapture_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Capture-recapture population estimation** (Lincoln 1930;
    Petersen 1896; the bias-corrected Chapman 1951 form): treat each
    consecutive year's active-customer set as a capture occasion and
    estimate the reachable customer population from the overlap —
    N̂ = (n₁+1)(n₂+1)/(m+1) − 1 — then compare against the CATALOG
    truth (the customer dimension's row count, which a marketplace
    normally cannot observe; here the fixture makes the estimator's
    error measurable). The estimation-theory member of the customer
    family: `retention_cohorts` describes the observed overlap, this
    extrapolates to the unobserved.

    Determinism: all capture counts are exact integers off distinct
    projections and one (customer, year) equi-join; the Chapman
    estimate and coverage ratio are fixed-shape doubles off exact
    ints, `dround`ed (4 dp estimate, 6 dp ratio).

    Scale: one distinct aggregate, one co-partitioned self-join, one
    year-count rollup, a broadcast 1-row catalog count."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    act = (
        orders.select(
            F.col("o_custkey").alias("cust"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .distinct()
        # three consumers (year counts, both self-join sides) — rule 5
        .localCheckpoint(eager=True)
    )
    n1f = act.groupBy("yr").agg(F.count(F.lit(1)).cast("long").alias("n1"))
    n2f = n1f.select(
        (F.col("yr") - F.lit(1)).alias("yr"), F.col("n1").alias("n2")
    )
    pairs = act.join(
        act.select("cust", (F.col("yr") - F.lit(1)).alias("yr")),
        ["cust", "yr"],
    )
    mf = pairs.groupBy("yr").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    total = cust.agg(F.count(F.lit(1)).cast("long").alias("n_catalog"))
    j = (
        n1f.join(n2f, "yr")
        .join(mf, "yr", "left")
        .select(
            "yr",
            "n1",
            "n2",
            F.coalesce(F.col("m"), F.lit(0).cast("long")).alias("m"),
        )
        .crossJoin(F.broadcast(total))
    )
    chapman = (
        (F.col("n1") + F.lit(1)).cast("double")
        * (F.col("n2") + F.lit(1)).cast("double")
        / (F.col("m") + F.lit(1)).cast("double")
        - F.lit(1.0)
    )
    return j.select(
        F.col("yr").alias("year_from"),
        (F.col("yr") + F.lit(1)).cast("int").alias("year_to"),
        F.col("n1").alias("n_active_from"),
        F.col("n2").alias("n_active_to"),
        F.col("m").alias("n_overlap"),
        (F.col("n1") + F.col("n2") - F.col("m")).alias("n_union_observed"),
        dround(chapman, 4).alias("chapman_est"),
        F.col("n_catalog"),
        dround(
            chapman / F.col("n_catalog").cast("double"), 6
        ).alias("est_coverage"),
    ).orderBy("year_from")


QUERIES["agg_capture_recapture_customers"] = agg_capture_recapture_customers

ORACLE["agg_capture_recapture_customers"] = (
    "WITH act AS (SELECT DISTINCT o_custkey AS cust, "
    "CAST(year(o_orderdate) AS INT) AS yr FROM orders), "
    "n1f AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n1 FROM act "
    "GROUP BY 1), "
    "n2f AS (SELECT yr - 1 AS yr, n1 AS n2 FROM n1f), "
    "mf AS (SELECT a.yr, CAST(COUNT(*) AS BIGINT) AS m FROM act a "
    "JOIN act b ON b.cust = a.cust AND b.yr = a.yr + 1 GROUP BY 1), "
    "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_catalog "
    "FROM customer), "
    "j AS (SELECT n1f.yr, n1, n2, COALESCE(m, 0) AS m, n_catalog "
    "FROM n1f JOIN n2f ON n2f.yr = n1f.yr "
    "LEFT JOIN mf ON mf.yr = n1f.yr, tot) "
    "SELECT yr AS year_from, CAST(yr + 1 AS INT) AS year_to, "
    "n1 AS n_active_from, n2 AS n_active_to, m AS n_overlap, "
    "n1 + n2 - m AS n_union_observed, "
    "ROUND(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE) "
    "/ CAST(m + 1 AS DOUBLE) - 1.0, 4) AS chapman_est, "
    "n_catalog, "
    "ROUND((CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE) "
    "/ CAST(m + 1 AS DOUBLE) - 1.0) / CAST(n_catalog AS DOUBLE), 6) "
    "AS est_coverage "
    "FROM j ORDER BY year_from"
)


# --- Lorenz curve deciles of customer revenue ------------------------------------------


def agg_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Lorenz curve, tabulated at customer deciles** (Lorenz 1905):
    rank customers by lifetime revenue ascending, cut into 10 integer-
    rank deciles, and emit each decile's revenue and the CUMULATIVE
    population/revenue shares — the plottable curve behind
    `agg_gini_customer_revenue`'s scalar (the Gini is twice the area
    between this curve and the diagonal; dashboards show the curve).

    Determinism: deciles are pure integer logic — d = ceil(10·rn/n)
    off a ROW_NUMBER with the unique customer-key tiebreak (no ntile
    edge semantics); per-decile sums and the running totals are exact
    int64; shares are single divisions, `dround` 6.

    Scale: one customer rollup (map-side combinable), one rank
    window over the customer dimension, one 10-row cumulative
    window."""
    from ..functions.ranks import ranked_rows_by_value

    orders = read_table(spark, sf_dir, "orders")
    per_c = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        dsum_scaled("o_totalprice").alias("rev_s")
    )
    # exact global rank + count without single-task windows (round 14:
    # functions/ranks.py value-bucket device — customer cardinality
    # grows with the data)
    r = ranked_rows_by_value(spark, per_c, "rev_s", ["cust"]).select(
        "rev_s", "rn", "n"
    )
    dec = F.ceil(F.lit(10) * F.col("rn") / F.col("n")).cast("int")
    g = r.groupBy(dec.alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("rev_s").cast("long").alias("d_rev_s"),
        F.max("n").cast("long").alias("n"),
    )
    w_cum = Window.partitionBy().orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_tot = Window.partitionBy()
    t = g.select(
        "decile",
        "n_customers",
        "d_rev_s",
        "n",
        F.sum("n_customers").over(w_cum).alias("cum_n"),
        F.sum("d_rev_s").over(w_cum).alias("cum_rev"),
        F.sum("d_rev_s").over(w_tot).alias("tot_rev"),
    )
    return t.select(
        "decile",
        "n_customers",
        F.round(F.col("d_rev_s") / 10_000.0, 4).alias("decile_revenue"),
        dround(
            F.col("cum_n").cast("double") / F.col("n").cast("double"), 6
        ).alias("cum_pop_share"),
        dround(
            F.col("cum_rev").cast("double")
            / F.col("tot_rev").cast("double"),
            6,
        ).alias("cum_revenue_share"),
    ).orderBy("decile")


QUERIES["agg_lorenz_curve_deciles"] = agg_lorenz_curve_deciles

ORACLE["agg_lorenz_curve_deciles"] = (
    "WITH pc AS (SELECT o_custkey AS cust, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1), "
    "r AS (SELECT rev_s, "
    "ROW_NUMBER() OVER (ORDER BY rev_s, cust) AS rn, "
    "COUNT(*) OVER () AS n FROM pc), "
    "g AS (SELECT CAST(CEIL(10 * rn / CAST(n AS DOUBLE)) AS INT) "
    "AS decile, CAST(COUNT(*) AS BIGINT) AS n_customers, "
    "CAST(SUM(rev_s) AS BIGINT) AS d_rev_s, "
    "CAST(MAX(n) AS BIGINT) AS n FROM r GROUP BY 1), "
    "t AS (SELECT decile, n_customers, d_rev_s, n, "
    "CAST(SUM(n_customers) OVER (ORDER BY decile "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS cum_n, "
    "CAST(SUM(d_rev_s) OVER (ORDER BY decile "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS cum_rev, "
    "CAST(SUM(d_rev_s) OVER () AS BIGINT) AS tot_rev FROM g) "
    "SELECT decile, n_customers, "
    "ROUND(CAST(d_rev_s AS DOUBLE) / 10000.0, 4) AS decile_revenue, "
    "ROUND(CAST(cum_n AS DOUBLE) / CAST(n AS DOUBLE), 6) "
    "AS cum_pop_share, "
    "ROUND(CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6) "
    "AS cum_revenue_share "
    "FROM t ORDER BY decile"
)


# --- Herfindahl-Hirschman brand concentration ------------------------------------------


def agg_herfindahl_brand_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Herfindahl-Hirschman index** of brand revenue concentration
    per ship year — HHI = Σ share_b² (the antitrust-standard
    concentration scalar; DOJ thresholds 0.15/0.25) with the effective
    brand count 1/HHI (the Hill number the Simpson family uses) and
    the top brand's share — the MARKET-structure view beside
    `agg_gini_customer_revenue`'s customer-inequality view and
    `abc_pareto_parts`' part classes.

    Determinism: HHI clears to Σ rev_b² / (Σ rev_b)² — per-brand
    squares exact in DECIMAL(38,0) ≡ HUGEINT, the denominator square
    formed as a double PRODUCT of the same exact total (the
    `agg_spearman_rank_corr` 128-bit posture); every exposed double is
    one fixed-shape expression, `dround` 6.

    Scale: one broadcast dim join (part), one map-side-combinable
    (year, brand) rollup, then all algebra on the brand-count frame."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice"
    )
    part = read_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    cells = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy(
            F.year("l_shipdate").cast("int").alias("year"),
            F.col("p_brand").alias("brand"),
        )
        .agg(dsum_scaled("l_extendedprice").alias("rev_s"))
    )
    w_y = Window.partitionBy("year")

    t = cells.select(
        "year",
        "rev_s",
        F.sum(d38("rev_s")).over(w_y).alias("s_tot"),
    )
    agg = t.groupBy("year").agg(
        F.count(F.lit(1)).cast("int").alias("n_brands"),
        F.sum(d38("rev_s") * F.col("rev_s")).alias("q"),
        F.max("s_tot").alias("s_tot"),
        F.max("rev_s").cast("long").alias("max_rev"),
    )
    s_d = F.col("s_tot").cast("double")
    hhi = F.col("q").cast("double") / (s_d * s_d)
    return (
        agg.filter(F.col("s_tot") > 0)
        .select(
            "year",
            "n_brands",
            dround(hhi, 6).alias("hhi"),
            dround(F.lit(1.0) / hhi, 4).alias("effective_brands"),
            dround(F.col("max_rev").cast("double") / s_d, 6).alias(
                "top_brand_share"
            ),
        )
        .orderBy("year")
    )


QUERIES["agg_herfindahl_brand_hhi"] = agg_herfindahl_brand_hhi

ORACLE["agg_herfindahl_brand_hhi"] = (
    "WITH cells AS (SELECT CAST(year(l_shipdate) AS INT) AS year, "
    "p_brand AS brand, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 10000) AS BIGINT)) "
    "AS BIGINT) AS rev_s "
    "FROM lineitem JOIN part ON p_partkey = l_partkey GROUP BY 1, 2), "
    "t AS (SELECT year, rev_s, "
    "SUM(CAST(rev_s AS HUGEINT)) OVER (PARTITION BY year) AS s_tot "
    "FROM cells), "
    "a AS (SELECT year, CAST(COUNT(*) AS INT) AS n_brands, "
    "SUM(CAST(rev_s AS HUGEINT) * rev_s) AS q, "
    "MAX(s_tot) AS s_tot, CAST(MAX(rev_s) AS BIGINT) AS max_rev "
    "FROM t GROUP BY 1) "
    "SELECT year, n_brands, "
    "ROUND(CAST(q AS DOUBLE) / (CAST(s_tot AS DOUBLE) "
    "* CAST(s_tot AS DOUBLE)), 6) AS hhi, "
    "ROUND(1.0 / (CAST(q AS DOUBLE) / (CAST(s_tot AS DOUBLE) "
    "* CAST(s_tot AS DOUBLE))), 4) AS effective_brands, "
    "ROUND(CAST(max_rev AS DOUBLE) / CAST(s_tot AS DOUBLE), 6) "
    "AS top_brand_share "
    "FROM a WHERE s_tot > 0 ORDER BY year"
)


# --- Decision-stump split evaluation by Gini impurity -----------------------------------

STUMP_SCALE = 1_000_000_000_000.0  # impurity-decrease rank quantization


def agg_decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Decision-stump split search by Gini impurity** (CART —
    Breiman et al. 1984, ch. 2): for every candidate one-vs-rest split
    on priority, the weighted Gini impurity of the two children over
    the order-status distribution and its decrease vs the parent — the
    ML-primitive counterpart of `agg_chi_square_independence` (the
    chi-square says the table is dependent; the stump says which
    single split buys the most purity — feature-importance triage
    implemented as three aggregates).

    Determinism: the dense status×priority contingency builds from one
    count aggregate + a cross join of the two tiny key sets (missing
    cells must be EXPLICIT zeros — the right child's (tot−o)² term is
    nonzero precisely where the left count is absent); every impurity
    clears to exact-integer forms (n_ch² − Σc²)/n_ch; the best-split
    rank orders by the decrease quantized to int64 with the split
    value as tiebreak.

    Scale: one map-side-combinable count over orders; everything after
    is on the R×C frame."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count(F.lit(1)).alias("o")).localCheckpoint(eager=True)
    statuses = cells.select("s").distinct()
    prios = cells.select("p").distinct()
    dense = (
        statuses.crossJoin(prios)
        .join(cells, ["s", "p"], "left")
        .select(
            "s", "p", F.coalesce(F.col("o"), F.lit(0)).alias("o")
        )
    )
    w_s = Window.partitionBy("s")
    t = dense.select(
        "s",
        "p",
        "o",
        F.sum("o").over(w_s).alias("tot_s"),
    )

    per_p = t.groupBy("p").agg(
        F.sum("o").cast("long").alias("l"),
        F.sum(d38("o") * F.col("o")).alias("ql"),
        F.sum(F.col("tot_s")).cast("long").alias("nn"),
        F.sum(
            d38(F.col("tot_s") - F.col("o"))
            * (F.col("tot_s") - F.col("o"))
        ).alias("qr"),
        F.sum(d38("tot_s") * F.col("tot_s")).alias("qn"),
    )
    l_d = F.col("l").cast("double")
    n_d = F.col("nn").cast("double")
    r_d = n_d - l_d
    gini_parent = (
        n_d * n_d - F.col("qn").cast("double")
    ) / (n_d * n_d)
    child = (
        (l_d * l_d - F.col("ql").cast("double")) / l_d
        + (r_d * r_d - F.col("qr").cast("double")) / r_d
    ) / n_d
    dec = gini_parent - child
    ranked = per_p.filter((F.col("l") > 0) & (F.col("l") < F.col("nn"))).select(
        F.col("p").alias("split_priority"),
        F.col("l").alias("n_left"),
        (F.col("nn") - F.col("l")).alias("n_right"),
        dround(gini_parent, 6).alias("gini_parent"),
        dround(child, 6).alias("gini_weighted_children"),
        dround(dec, 6).alias("gini_decrease"),
        _nearest_long_away(dec * F.lit(STUMP_SCALE)).alias("dq"),
    )
    w_rank = Window.orderBy(F.col("dq").desc(), "split_priority")
    return (
        ranked.select(
            "split_priority",
            "n_left",
            "n_right",
            "gini_parent",
            "gini_weighted_children",
            "gini_decrease",
            F.row_number().over(w_rank).cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


QUERIES["agg_decision_stump_gini"] = agg_decision_stump_gini

ORACLE["agg_decision_stump_gini"] = (
    "WITH cells AS (SELECT o_orderstatus AS s, o_orderpriority AS p, "
    "CAST(COUNT(*) AS BIGINT) AS o FROM orders GROUP BY 1, 2), "
    "dense AS (SELECT ss.s, pp.p, COALESCE(c.o, 0) AS o "
    "FROM (SELECT DISTINCT s FROM cells) ss "
    "CROSS JOIN (SELECT DISTINCT p FROM cells) pp "
    "LEFT JOIN cells c ON c.s = ss.s AND c.p = pp.p), "
    "t AS (SELECT s, p, o, "
    "SUM(o) OVER (PARTITION BY s) AS tot_s FROM dense), "
    "pp2 AS (SELECT p, CAST(SUM(o) AS BIGINT) AS l, "
    "SUM(CAST(o AS HUGEINT) * o) AS ql, "
    "CAST(SUM(tot_s) AS BIGINT) AS nn, "
    "SUM(CAST(tot_s - o AS HUGEINT) * (tot_s - o)) AS qr, "
    "SUM(CAST(tot_s AS HUGEINT) * tot_s) AS qn FROM t GROUP BY 1), "
    "r AS (SELECT p AS split_priority, l AS n_left, "
    "nn - l AS n_right, "
    "ROUND((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) "
    "- CAST(qn AS DOUBLE)) / (CAST(nn AS DOUBLE) "
    "* CAST(nn AS DOUBLE)), 6) AS gini_parent, "
    "ROUND(((CAST(l AS DOUBLE) * CAST(l AS DOUBLE) "
    "- CAST(ql AS DOUBLE)) / CAST(l AS DOUBLE) "
    "+ ((CAST(nn AS DOUBLE) - CAST(l AS DOUBLE)) "
    "* (CAST(nn AS DOUBLE) - CAST(l AS DOUBLE)) "
    "- CAST(qr AS DOUBLE)) / (CAST(nn AS DOUBLE) "
    "- CAST(l AS DOUBLE))) / CAST(nn AS DOUBLE), 6) "
    "AS gini_weighted_children, "
    "ROUND((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) "
    "- CAST(qn AS DOUBLE)) / (CAST(nn AS DOUBLE) "
    "* CAST(nn AS DOUBLE)) "
    "- ((CAST(l AS DOUBLE) * CAST(l AS DOUBLE) "
    "- CAST(ql AS DOUBLE)) / CAST(l AS DOUBLE) "
    "+ ((CAST(nn AS DOUBLE) - CAST(l AS DOUBLE)) "
    "* (CAST(nn AS DOUBLE) - CAST(l AS DOUBLE)) "
    "- CAST(qr AS DOUBLE)) / (CAST(nn AS DOUBLE) "
    "- CAST(l AS DOUBLE))) / CAST(nn AS DOUBLE), 6) AS gini_decrease, "
    "CAST(ROUND(((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) "
    "- CAST(qn AS DOUBLE)) / (CAST(nn AS DOUBLE) "
    "* CAST(nn AS DOUBLE)) "
    "- ((CAST(l AS DOUBLE) * CAST(l AS DOUBLE) "
    "- CAST(ql AS DOUBLE)) / CAST(l AS DOUBLE) "
    "+ ((CAST(nn AS DOUBLE) - CAST(l AS DOUBLE)) "
    "* (CAST(nn AS DOUBLE) - CAST(l AS DOUBLE)) "
    "- CAST(qr AS DOUBLE)) / (CAST(nn AS DOUBLE) "
    "- CAST(l AS DOUBLE))) / CAST(nn AS DOUBLE)) "
    f"* {STUMP_SCALE:.1f}) AS BIGINT) AS dq "
    "FROM pp2 WHERE l > 0 AND l < nn) "
    "SELECT split_priority, n_left, n_right, gini_parent, "
    "gini_weighted_children, gini_decrease, "
    "CAST(ROW_NUMBER() OVER (ORDER BY dq DESC, split_priority) AS INT) "
    "AS rank FROM r ORDER BY rank"
)


# --- Laspeyres / Paasche / Fisher price indices ------------------------------------------


def agg_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Laspeyres, Paasche and Fisher price indices** per ship year
    against the first year as base (ILO CPI manual ch. 15): L_t =
    Σp_t·q₀/Σp₀·q₀ (base-period basket at current prices), P_t =
    Σp_t·q_t/Σp₀·q_t (current basket at base prices), Fisher = √(L·P)
    — the macro-index family the reference's NFP domain sits beside
    (a payroll dashboard quotes exactly this construction), computed
    over parts present in both periods. Unit prices are per-part
    revenue/quantity.

    Determinism: per-(part, year) revenue (1e4-scaled) and quantity
    are exact int64; each basket term E_t·Q₀/Q_t is one double off
    three exact ints, quantized to scaled int64 per PART before the
    exact per-year sum (the entropy-family device); the three indices
    are fixed-shape expressions off the exact sums, `dround` 6.

    Scale: one lineitem-sized (part, year) aggregate (map-side
    combinable), a part-keyed co-partitioned join against the base
    year, one per-year rollup."""
    from ..functions.numerics import _nearest_long_away

    li = read_table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.year("l_shipdate").cast("int").alias("yr"),
    ).agg(
        dsum_scaled("l_extendedprice").alias("e_s"),
        F.sum("l_quantity").cast("long").alias("q"),
    )
    # base-period lookup as a per-part WINDOW over the single (part,
    # year) aggregate — a base-subset self-join would re-execute the
    # lineitem rollup per side (rule 5)
    w_all = Window.partitionBy()
    w_part = Window.partitionBy("part")
    t = py.select(
        "part",
        "yr",
        "e_s",
        "q",
        F.min("yr").over(w_all).alias("b"),
    )
    t2 = t.select(
        "part",
        "yr",
        "e_s",
        "q",
        "b",
        F.max(F.when(F.col("yr") == F.col("b"), F.col("e_s")))
        .over(w_part)
        .alias("e0"),
        F.max(F.when(F.col("yr") == F.col("b"), F.col("q")))
        .over(w_part)
        .alias("q0"),
    )
    j = t2.filter(
        (F.col("yr") > F.col("b"))
        & F.col("q0").isNotNull()
        & (F.col("q") > 0)
        & (F.col("q0") > 0)
    )
    et = F.col("e_s").cast("double")
    e0 = F.col("e0").cast("double")
    qt = F.col("q").cast("double")
    q0 = F.col("q0").cast("double")
    lt = _nearest_long_away(et * q0 / qt)  # p_t * q0, scaled
    pt = _nearest_long_away(e0 * qt / q0)  # p_0 * q_t, scaled
    g = j.groupBy("yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(lt).cast("long").alias("num_l"),
        F.sum("e0").cast("long").alias("den_l"),
        F.sum("e_s").cast("long").alias("num_p"),
        F.sum(pt).cast("long").alias("den_p"),
    )
    l_idx = F.col("num_l").cast("double") / F.col("den_l").cast("double")
    p_idx = F.col("num_p").cast("double") / F.col("den_p").cast("double")
    return (
        g.filter((F.col("den_l") > 0) & (F.col("den_p") > 0))
        .select(
            F.col("yr").alias("year"),
            F.col("n_parts").alias("n_parts_matched"),
            dround(l_idx, 6).alias("laspeyres"),
            dround(p_idx, 6).alias("paasche"),
            dround(F.sqrt(l_idx * p_idx), 6).alias("fisher"),
        )
        .orderBy("year")
    )


QUERIES["agg_price_index_laspeyres"] = agg_price_index_laspeyres

ORACLE["agg_price_index_laspeyres"] = (
    "WITH py AS (SELECT l_partkey AS part, "
    "CAST(year(l_shipdate) AS INT) AS yr, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 10000) AS BIGINT)) "
    "AS BIGINT) AS e_s, "
    "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q "
    "FROM lineitem GROUP BY 1, 2), "
    "t AS (SELECT part, yr, e_s, q, MIN(yr) OVER () AS b FROM py), "
    "t2 AS (SELECT part, yr, e_s, q, b, "
    "MAX(CASE WHEN yr = b THEN e_s END) OVER (PARTITION BY part) "
    "AS e0, "
    "MAX(CASE WHEN yr = b THEN q END) OVER (PARTITION BY part) "
    "AS q0 FROM t), "
    "j AS (SELECT yr, e_s, q, e0, q0 FROM t2 "
    "WHERE yr > b AND q0 IS NOT NULL AND q > 0 AND q0 > 0), "
    "g AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_parts, "
    "CAST(SUM(CAST(ROUND(CAST(e_s AS DOUBLE) * CAST(q0 AS DOUBLE) "
    "/ CAST(q AS DOUBLE)) AS BIGINT)) AS BIGINT) AS num_l, "
    "CAST(SUM(e0) AS BIGINT) AS den_l, "
    "CAST(SUM(e_s) AS BIGINT) AS num_p, "
    "CAST(SUM(CAST(ROUND(CAST(e0 AS DOUBLE) * CAST(q AS DOUBLE) "
    "/ CAST(q0 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS den_p "
    "FROM j GROUP BY 1) "
    "SELECT yr AS year, n_parts AS n_parts_matched, "
    "ROUND(CAST(num_l AS DOUBLE) / CAST(den_l AS DOUBLE), 6) "
    "AS laspeyres, "
    "ROUND(CAST(num_p AS DOUBLE) / CAST(den_p AS DOUBLE), 6) "
    "AS paasche, "
    "ROUND(sqrt(CAST(num_l AS DOUBLE) / CAST(den_l AS DOUBLE) "
    "* (CAST(num_p AS DOUBLE) / CAST(den_p AS DOUBLE))), 6) AS fisher "
    "FROM g WHERE den_l > 0 AND den_p > 0 ORDER BY year"
)


# --- Odds ratio / relative risk with Woolf logit CI --------------------------------------


def agg_odds_ratio_woolf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Odds ratio and relative risk of the 2×2 design** (Woolf 1955
    logit CI; Katz et al. 1978 for the RR interval): exposure =
    URGENT priority, outcome = order finished — OR = ad/bc with
    CI = exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)), RR = [a/(a+b)] /
    [c/(c+d)] with its Katz interval. The EFFECT-DIRECTION view of the
    association the chi-square/G-test only score for existence — the
    epidemiology-standard table every incident review quotes.

    Determinism: the four cells are exact integers from one
    conditional aggregate; OR/RR and both intervals are fixed-shape
    doubles off the exact cells (one ln, one √, one exp each side —
    correctly-rounded IEEE singletons), `dround` 6. Zero cells filter
    (Woolf is undefined there; the fixture has none).

    Scale: one map-side-combinable aggregate over orders; scalar
    algebra after."""
    orders = read_table(spark, sf_dir, "orders")
    exp_ = F.col("o_orderpriority") == "1-URGENT"
    out = F.col("o_orderstatus") == "F"
    cells = orders.agg(
        F.sum(F.when(exp_ & out, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(exp_ & ~out, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~exp_ & out, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~exp_ & ~out, 1).otherwise(0)).cast("long").alias("d"),
    )
    a = F.col("a").cast("double")
    b = F.col("b").cast("double")
    c = F.col("c").cast("double")
    d = F.col("d").cast("double")
    or_ = a * d / (b * c)
    se_or = F.sqrt(
        F.lit(1.0) / a + F.lit(1.0) / b + F.lit(1.0) / c + F.lit(1.0) / d
    )
    rr = (a / (a + b)) / (c / (c + d))
    se_rr = F.sqrt(
        F.lit(1.0) / a
        - F.lit(1.0) / (a + b)
        + F.lit(1.0) / c
        - F.lit(1.0) / (c + d)
    )
    return cells.filter(
        (F.col("a") > 0)
        & (F.col("b") > 0)
        & (F.col("c") > 0)
        & (F.col("d") > 0)
    ).select(
        "a",
        "b",
        "c",
        "d",
        dround(or_, 6).alias("odds_ratio"),
        dround(F.exp(F.log(or_) - F.lit(1.96) * se_or), 6).alias(
            "or_ci_lo"
        ),
        dround(F.exp(F.log(or_) + F.lit(1.96) * se_or), 6).alias(
            "or_ci_hi"
        ),
        dround(rr, 6).alias("relative_risk"),
        dround(F.exp(F.log(rr) - F.lit(1.96) * se_rr), 6).alias(
            "rr_ci_lo"
        ),
        dround(F.exp(F.log(rr) + F.lit(1.96) * se_rr), 6).alias(
            "rr_ci_hi"
        ),
    )


QUERIES["agg_odds_ratio_woolf"] = agg_odds_ratio_woolf

ORACLE["agg_odds_ratio_woolf"] = (
    "WITH cells AS (SELECT "
    "CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' "
    "AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a, "
    "CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' "
    "AND NOT o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS b, "
    "CAST(SUM(CASE WHEN NOT o_orderpriority = '1-URGENT' "
    "AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c, "
    "CAST(SUM(CASE WHEN NOT o_orderpriority = '1-URGENT' "
    "AND NOT o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS d "
    "FROM orders) "
    "SELECT a, b, c, d, "
    "ROUND(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) "
    "/ (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)), 6) AS odds_ratio, "
    "ROUND(exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) "
    "/ (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))) "
    "- 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE) "
    "+ 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))), 6) "
    "AS or_ci_lo, "
    "ROUND(exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) "
    "/ (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))) "
    "+ 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE) "
    "+ 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))), 6) "
    "AS or_ci_hi, "
    "ROUND((CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))) "
    "/ (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))), 6) "
    "AS relative_risk, "
    "ROUND(exp(ln((CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) "
    "+ CAST(b AS DOUBLE))) / (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) "
    "+ CAST(d AS DOUBLE)))) - 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) "
    "- 1.0 / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) "
    "+ 1.0 / CAST(c AS DOUBLE) "
    "- 1.0 / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)))), 6) AS rr_ci_lo, "
    "ROUND(exp(ln((CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) "
    "+ CAST(b AS DOUBLE))) / (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) "
    "+ CAST(d AS DOUBLE)))) + 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) "
    "- 1.0 / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) "
    "+ 1.0 / CAST(c AS DOUBLE) "
    "- 1.0 / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)))), 6) AS rr_ci_hi "
    "FROM cells WHERE a > 0 AND b > 0 AND c > 0 AND d > 0"
)


# --- Inverse-propensity-weighted treatment effect ----------------------------------------

# exact integer IPW weights: p(treat | priority digit s) = s/10 via
# md5 % 10 < s, so 1/p = 10/s scales by 6 to ints and 1/(1-p) =
# 10/(10-s) scales by 252 — the constant factors cancel in the Hajek
# ratios, leaving EXACT integer weighted sums in both engines
_IPW_W_T = {s: 60 // s for s in (1, 2, 3, 4, 5)}  # 6 * 10/s
_IPW_W_C = {s: 2520 // (10 - s) for s in (1, 2, 3, 4, 5)}  # 252 * 10/(10-s)


def agg_ipw_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Inverse-propensity-weighted treatment effect** (Horvitz &
    Thompson 1952; the Hájek-normalized form; Rosenbaum & Rubin 1983
    for the propensity frame): a synthetic experiment whose assignment
    probability DEPENDS on priority (p = s/10 for priority digit s,
    assigned by portable md5 % 10 — deterministic, no RNG), so the
    naive treated-vs-control mean difference is confounded by
    priority; IPW reweights each (priority, arm) cell by 1/p or
    1/(1−p) and recovers an unconfounded estimate. The
    observational-causal member of the A/B family
    (`agg_srm_assignment_check` validates a real experiment's
    assignment; IPW is what you run when assignment wasn't uniform).

    Determinism: assignment is a pure hash function; per-cell Σy and n
    are exact 1e4-scaled int64 sums; the IPW weights clear to exact
    integers (60/s and 2520/(10−s)) whose constant factors cancel in
    the Hájek ratio, so BOTH weighted numerators/denominators are
    exact integer sums and every estimate is a fixed-shape double off
    exact ints, `dround` 4.

    Scale: one map-side-combinable (priority, arm) aggregate; all
    weighting on the 10-row cell frame."""
    orders = read_table(spark, sf_dir, "orders")
    s_dig = F.substring("o_orderpriority", 1, 1).cast("int")
    hmod = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("ipw:"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    from ..functions.numerics import _nearest_long_away

    cells = orders.select(
        s_dig.alias("s"),
        (hmod < s_dig).alias("treated"),
        _nearest_long_away(F.col("o_totalprice") * 10000).alias("v"),
    ).groupBy("s", "treated").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
    )
    wt = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _IPW_W_T.items() for x in kv]
        ),
        F.col("s"),
    )
    wc = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _IPW_W_C.items() for x in kv]
        ),
        F.col("s"),
    )
    weighted = cells.select(
        "treated",
        "n",
        "sv",
        F.when(F.col("treated"), wt).otherwise(wc).alias("w"),
    )

    agg = weighted.groupBy("treated").agg(
        F.sum("n").cast("long").alias("n_arm"),
        F.sum("sv").cast("long").alias("sv_arm"),
        F.sum(d38("w") * F.col("sv")).alias("wy"),
        F.sum(d38("w") * F.col("n")).alias("wn"),
    )
    w_all = Window.partitionBy()
    naive = F.col("sv_arm").cast("double") / (
        F.col("n_arm").cast("double") * F.lit(10_000.0)
    )
    hajek = F.col("wy").cast("double") / (
        F.col("wn").cast("double") * F.lit(10_000.0)
    )
    t = agg.select(
        "treated",
        "n_arm",
        dround(naive, 4).alias("naive_mean"),
        dround(hajek, 4).alias("ipw_mean"),
        F.sum(F.when(F.col("treated"), hajek).otherwise(-hajek))
        .over(w_all)
        .alias("ate_raw"),
        F.sum(F.when(F.col("treated"), naive).otherwise(-naive))
        .over(w_all)
        .alias("naive_diff_raw"),
    )
    return t.select(
        "treated",
        "n_arm",
        "naive_mean",
        "ipw_mean",
        dround(F.col("naive_diff_raw"), 4).alias("naive_diff"),
        dround(F.col("ate_raw"), 4).alias("ipw_ate"),
    ).orderBy("treated")


QUERIES["agg_ipw_treatment_effect"] = agg_ipw_treatment_effect


def _ipw_oracle_sql() -> str:
    wt_case = " ".join(
        f"WHEN s = {s} THEN {w}" for s, w in _IPW_W_T.items()
    )
    wc_case = " ".join(
        f"WHEN s = {s} THEN {w}" for s, w in _IPW_W_C.items()
    )
    return (
        "WITH b AS (SELECT "
        "CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS s, "
        "CAST(('0x' || substr(md5('ipw:' "
        "|| CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10 "
        "< CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS treated, "
        "CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS v FROM orders), "
        "cells AS (SELECT s, treated, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(v) AS BIGINT) AS sv FROM b GROUP BY 1, 2), "
        "wgt AS (SELECT treated, n, sv, "
        f"CASE WHEN treated THEN (CASE {wt_case} END) "
        f"ELSE (CASE {wc_case} END) END AS w FROM cells), "
        "a AS (SELECT treated, CAST(SUM(n) AS BIGINT) AS n_arm, "
        "CAST(SUM(sv) AS BIGINT) AS sv_arm, "
        "SUM(CAST(w AS HUGEINT) * sv) AS wy, "
        "SUM(CAST(w AS HUGEINT) * n) AS wn FROM wgt GROUP BY 1), "
        "t AS (SELECT treated, n_arm, "
        "CAST(sv_arm AS DOUBLE) / (CAST(n_arm AS DOUBLE) * 10000.0) "
        "AS naive_raw, "
        "CAST(wy AS DOUBLE) / (CAST(wn AS DOUBLE) * 10000.0) "
        "AS hajek_raw FROM a), "
        "t2 AS (SELECT treated, n_arm, naive_raw, hajek_raw, "
        "SUM(CASE WHEN treated THEN hajek_raw ELSE -hajek_raw END) "
        "OVER () AS ate_raw, "
        "SUM(CASE WHEN treated THEN naive_raw ELSE -naive_raw END) "
        "OVER () AS naive_diff_raw FROM t) "
        "SELECT treated, n_arm, "
        "ROUND(naive_raw, 4) AS naive_mean, "
        "ROUND(hajek_raw, 4) AS ipw_mean, "
        "ROUND(naive_diff_raw, 4) AS naive_diff, "
        "ROUND(ate_raw, 4) AS ipw_ate "
        "FROM t2 ORDER BY treated"
    )


ORACLE["agg_ipw_treatment_effect"] = _ipw_oracle_sql()


# --- Wilson score interval for per-priority finish rates ----------------------------------


def agg_wilson_score_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Wilson score interval** (Wilson 1927) for each priority's
    finish rate — center (p̂ + z²/2n)/(1 + z²/n), half-width
    z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n) — the binomial interval that
    stays inside [0,1] and behaves at extreme rates, which the Wald
    interval `agg_two_proportion_ztest` implies does not (Brown, Cai
    & DasGupta 2001 is the standard indictment). The per-group CI
    table a dashboard should print under any rate.

    Determinism: n and successes are exact integers from one
    conditional aggregate; the interval is one fixed-shape double
    expression per group off the exact ints (z = 1.96 shared
    literal), `dround` 6.

    Scale: one map-side-combinable aggregate; 5-row algebra."""
    orders = read_table(spark, sf_dir, "orders")
    g = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("s"),
    )
    n = F.col("n").cast("double")
    p = F.col("s").cast("double") / n
    # the same DECIMAL literal as the oracle text — IEEE(1.96)² rounds
    # to a (possibly) different last bit than parse("3.8416")
    z2 = F.lit(3.8416)
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(1.96)
        * F.sqrt(
            p * (F.lit(1.0) - p) / n
            + z2 / (F.lit(4.0) * n * n)
        )
        / denom
    )
    return (
        g.filter(F.col("n") > 0)
        .select(
            "priority",
            F.col("n").alias("n_orders"),
            F.col("s").alias("n_finished"),
            dround(p, 6).alias("rate"),
            dround(center - half, 6).alias("wilson_lo"),
            dround(center + half, 6).alias("wilson_hi"),
        )
        .orderBy("priority")
    )


QUERIES["agg_wilson_score_ci"] = agg_wilson_score_ci

_WILSON_P = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
_WILSON_DEN = "(1.0 + 3.8416 / CAST(n AS DOUBLE))"
_WILSON_CTR = (
    f"(({_WILSON_P} + 3.8416 / (2.0 * CAST(n AS DOUBLE))) / {_WILSON_DEN})"
)
_WILSON_HALF = (
    f"(1.96 * sqrt({_WILSON_P} * (1.0 - {_WILSON_P}) / CAST(n AS DOUBLE) "
    "+ 3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) "
    f"/ {_WILSON_DEN})"
)

ORACLE["agg_wilson_score_ci"] = (
    "WITH g AS (SELECT o_orderpriority AS priority, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) "
    "AS BIGINT) AS s FROM orders GROUP BY 1) "
    "SELECT priority, n AS n_orders, s AS n_finished, "
    f"ROUND({_WILSON_P}, 6) AS rate, "
    f"ROUND({_WILSON_CTR} - {_WILSON_HALF}, 6) AS wilson_lo, "
    f"ROUND({_WILSON_CTR} + {_WILSON_HALF}, 6) AS wilson_hi "
    "FROM g WHERE n > 0 ORDER BY priority"
)


# --- Declarative data-quality constraint violations --------------------------------------


def dq_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Declarative cross-field constraint checking** (the
    Deequ/Great-Expectations shape: a RULE TABLE of named invariants,
    each scored in one pass): five business rules over the
    orders⋈lineitem join — ship-before-order, non-positive price,
    discount out of [0, 0.1], quantity out of [1, 50], tax out of
    [0, 0.08] — each emitting (checked, violations, rate). The
    CROSS-FIELD member of the DQ family: `dq_checks` profiles single
    columns, `dq_referential_integrity` keys, `dq_key_uniqueness`
    candidate keys; real pipelines gate loads on exactly this rule
    table.

    Determinism: every rule is an exact integer conditional count off
    ONE conditional aggregate (no per-rule scans); the unpivot is a
    literal ``stack``; rates are single divisions, `dround` 6.

    Scale: one co-partitioned fact-fact equi-join (orderkey), one
    map-side-combinable aggregate, a 5-row unpivot."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_shipdate",
        "l_extendedprice",
        "l_discount",
        "l_quantity",
        "l_tax",
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    j = li.join(orders, "o_orderkey")
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
        )
        .cast("long")
        .alias("v_ship"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("v_price"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_disc"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1.0) | (F.col("l_quantity") > 50.0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_qty"),
        F.sum(
            F.when((F.col("l_tax") < 0.0) | (F.col("l_tax") > 0.08), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("v_tax"),
    )
    un = agg.select(
        "n",
        F.expr(
            "stack(5, "
            "'ship_before_order', v_ship, "
            "'non_positive_price', v_price, "
            "'discount_out_of_range', v_disc, "
            "'quantity_out_of_range', v_qty, "
            "'tax_out_of_range', v_tax) AS (rule, n_violations)"
        ),
    )
    return un.select(
        "rule",
        F.col("n").alias("n_checked"),
        "n_violations",
        dround(
            F.col("n_violations").cast("double") / F.col("n").cast("double"),
            6,
        ).alias("violation_rate"),
    ).orderBy("rule")


QUERIES["dq_constraint_violations"] = dq_constraint_violations

ORACLE["dq_constraint_violations"] = (
    "WITH j AS (SELECT l.*, o.o_orderdate FROM lineitem l "
    "JOIN orders o ON o.o_orderkey = l.l_orderkey), "
    "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) "
    "AS BIGINT) AS v_ship, "
    "CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) "
    "AS BIGINT) AS v_price, "
    "CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 "
    "THEN 1 ELSE 0 END) AS BIGINT) AS v_disc, "
    "CAST(SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0 "
    "THEN 1 ELSE 0 END) AS BIGINT) AS v_qty, "
    "CAST(SUM(CASE WHEN l_tax < 0.0 OR l_tax > 0.08 "
    "THEN 1 ELSE 0 END) AS BIGINT) AS v_tax FROM j), "
    "u AS (SELECT 'ship_before_order' AS rule, n, v_ship "
    "AS n_violations FROM a "
    "UNION ALL SELECT 'non_positive_price', n, v_price FROM a "
    "UNION ALL SELECT 'discount_out_of_range', n, v_disc FROM a "
    "UNION ALL SELECT 'quantity_out_of_range', n, v_qty FROM a "
    "UNION ALL SELECT 'tax_out_of_range', n, v_tax FROM a) "
    "SELECT rule, n AS n_checked, n_violations, "
    "ROUND(CAST(n_violations AS DOUBLE) / CAST(n AS DOUBLE), 6) "
    "AS violation_rate "
    "FROM u ORDER BY rule"
)


# --- Theil / Atkinson inequality indices ---------------------------------------------------

_THEIL_SCALE = 100_000_000  # per-customer ln x terms (~23 -> 2.3e9/term)
_THEIL_XL_SCALE = 10_000  # per-customer x*ln x terms (~3e11 -> 3e15/term)


def agg_theil_atkinson_inequality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Theil T, Theil L (mean log deviation) and Atkinson(ε=1)**
    over customer lifetime revenue (Theil 1967; Atkinson 1970) — the
    DECOMPOSABLE inequality indices beside `agg_gini_customer_revenue`
    (Gini is the familiar number but does not decompose across
    subgroups; Theil does, which is why economists report both):
    T = (Σx·ln x)/S − ln(S/N), L = ln(S/N) − (Σln x)/N,
    Atkinson(1) = 1 − exp(−L) (one minus geometric/arithmetic mean).

    Determinism: customer revenue is an exact 1e4-scaled int64 sum;
    both log sums quantize per CUSTOMER to scaled int64 (the
    entropy-family device — scale invariance of T and L means the 1e4
    factor cancels algebraically, so the indices are computed directly
    on the scaled ints); the indices are fixed-shape doubles off exact
    sums, `dround` 6.

    Scale: one customer rollup (map-side combinable), one dim-sized
    aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    per_c = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        dsum_scaled("o_totalprice").alias("x")
    )
    x_d = F.col("x").cast("double")
    from ..functions.numerics import _nearest_long_away

    # both log sums quantize per row then accumulate in DECIMAL(38,0):
    # x*ln x reaches ~3e11 per customer, so an int64 SUM of 1e8-scaled
    # terms overflows — quantize at 1e4 and sum wide
    agg = per_c.filter(F.col("x") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
        F.sum(
            _nearest_long_away(
                x_d * F.log(x_d) * F.lit(float(_THEIL_XL_SCALE))
            ).cast("decimal(38,0)")
        ).alias("sxlx"),
        F.sum(
            _nearest_long_away(
                F.log(x_d) * F.lit(float(_THEIL_SCALE))
            ).cast("decimal(38,0)")
        ).alias("slx"),
    )
    n_d = F.col("n").cast("double")
    s_d = F.col("s").cast("double")
    mean_ln = F.log(s_d / n_d)
    theil_t = (
        F.col("sxlx").cast("double") / _THEIL_XL_SCALE / s_d - mean_ln
    )
    theil_l = mean_ln - F.col("slx").cast("double") / _THEIL_SCALE / n_d
    return agg.filter(F.col("n") > 0).select(
        F.col("n").alias("n_customers"),
        dround(theil_t, 6).alias("theil_t"),
        dround(theil_l, 6).alias("theil_l"),
        dround(F.lit(1.0) - F.exp(-theil_l), 6).alias("atkinson_1"),
    )


QUERIES["agg_theil_atkinson_inequality"] = agg_theil_atkinson_inequality

ORACLE["agg_theil_atkinson_inequality"] = (
    "WITH pc AS (SELECT o_custkey, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS x FROM orders GROUP BY 1), "
    "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    "SUM(CAST(x AS HUGEINT)) AS s, "
    "SUM(CAST(CAST(ROUND(CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE)) "
    f"* {_THEIL_XL_SCALE}) AS BIGINT) AS HUGEINT)) AS sxlx, "
    "SUM(CAST(CAST(ROUND(ln(CAST(x AS DOUBLE)) "
    f"* {_THEIL_SCALE}) AS BIGINT) AS HUGEINT)) AS slx "
    "FROM pc WHERE x > 0) "
    "SELECT n AS n_customers, "
    f"ROUND(CAST(sxlx AS DOUBLE) / {_THEIL_XL_SCALE} / CAST(s AS DOUBLE) "
    "- ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS theil_t, "
    "ROUND(ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) "
    f"- CAST(slx AS DOUBLE) / {_THEIL_SCALE} / CAST(n AS DOUBLE), 6) "
    "AS theil_l, "
    "ROUND(1.0 - exp(-(ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) "
    f"- CAST(slx AS DOUBLE) / {_THEIL_SCALE} / CAST(n AS DOUBLE))), 6) "
    "AS atkinson_1 "
    "FROM a WHERE n > 0"
)


# --- Coefficient of variation per priority ----------------------------------------------------


def agg_coefficient_of_variation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Coefficient of variation** (CV = s/x̄, plus its inverse, the
    signal-to-noise ratio) of order value per priority — the
    SCALE-FREE dispersion table that makes groups with different means
    comparable (raw sds are not: a luxury segment's bigger sd may be
    proportionally smaller), the normalized companion of
    `agg_levene_brown_forsythe`'s dispersion test.

    Determinism: per-group Σv and Σv² accumulate over the 1e4-scaled
    integers (DECIMAL(38,0) ≡ HUGEINT squares); mean, sample sd, CV
    and SNR are fixed-shape doubles off exact sums, `dround`ed (4 dp
    money, 6 dp ratios).

    Scale: one map-side-combinable aggregate; 5-row algebra."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    v = F.col("v").cast("decimal(18,0)")
    g = orders.select(
        F.col("o_orderpriority").alias("priority"),
        _nearest_long_away(F.col("o_totalprice") * 10000).alias("v"),
    ).groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("decimal(38,0)").alias("s"),
        F.sum(v * F.col("v")).alias("q"),
    )
    n_d = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n_d
    m2 = (
        F.col("n").cast("decimal(38,0)") * F.col("q")
        - F.col("s") * F.col("s")
    )
    sd = F.sqrt(m2.cast("double") / (n_d * (n_d - F.lit(1.0))))
    return (
        g.filter((F.col("n") > 1) & (m2 > 0))
        .select(
            "priority",
            F.col("n").alias("n_orders"),
            dround(mean / 10_000.0, 4).alias("mean_price"),
            dround(sd / 10_000.0, 4).alias("sd_price"),
            dround(sd / mean, 6).alias("cv"),
            dround(mean / sd, 6).alias("snr"),
        )
        .orderBy("priority")
    )


QUERIES["agg_coefficient_of_variation"] = agg_coefficient_of_variation

ORACLE["agg_coefficient_of_variation"] = (
    "WITH g AS (SELECT o_orderpriority AS priority, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "SUM(CAST(CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS HUGEINT)) "
    "AS s, "
    "SUM(CAST(CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS HUGEINT) "
    "* CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS q "
    "FROM orders GROUP BY 1) "
    "SELECT priority, n AS n_orders, "
    "ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0, 4) "
    "AS mean_price, "
    "ROUND(sqrt(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) "
    "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 10000.0, 4) "
    "AS sd_price, "
    "ROUND(sqrt(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) "
    "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) "
    "/ (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cv, "
    "ROUND((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) "
    "/ sqrt(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) "
    "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6) AS snr "
    "FROM g WHERE n > 1 AND CAST(n AS HUGEINT) * q - s * s > 0 "
    "ORDER BY priority"
)


# --- Resampling inference family (round 15) ---------------------------------
# Bootstrap / permutation / jackknife — the nonparametric-inference tier
# every A/B platform ships beside the closed-form tests above. All three
# are RNG-free: resample draws come from salted portable md5 (the
# `agg_srm_assignment_check` / `agg_halfsample_ci` device), so every
# draw is a pure function of the row key and replicate id — identical on
# any cluster layout and bit-reproducible in DuckDB.

BOOT_B = 48  # bootstrap replicates (one explode, map-side-combinable)
PERM_P = 64  # permutation replicates

# Poisson(1) CDF at 0..5 (exact to 10 dp; both engines compare the SAME
# md5-uniform against the SAME constants): the Poisson bootstrap
# (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
# Google 2012) replaces multinomial resampling — which needs global
# coordination — with per-row independent Poisson(1) weights, the
# standard distributed-bootstrap device.
_POIS_CUM = (
    0.3678794412,
    0.7357588823,
    0.9196986029,
    0.9810118431,
    0.9963401532,
    0.9994058152,
)


def _md5_uniform(prefix: str, rep_col, key_col) -> "F.Column":
    """Uniform in [0, 1) from the first 8 hex chars of a salted md5 —
    pure function of (prefix, replicate id, row key), portable."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(prefix),
                        rep_col.cast("string"),
                        F.lit(":"),
                        key_col.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        / F.lit(4294967296.0)
    )


def _md5_uniform_sql(prefix: str, rep_expr: str, key_expr: str) -> str:
    return (
        "CAST(('0x' || substr(md5('" + prefix + "' || "
        f"CAST({rep_expr} AS VARCHAR) || ':' || "
        f"CAST({key_expr} AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0"
    )


def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Poisson-bootstrap percentile CI** for the mean order price:
    ``BOOT_B`` replicates, each weighting every row by an independent
    Poisson(1) count drawn from the portable md5 uniform via the exact
    CDF constants above; the 2.5/97.5 percentiles of the replicate
    means are the interval (Efron's percentile method on the
    distributed Poisson bootstrap).

    Determinism: weights are integer CASE cuts of a portable uniform;
    replicate sums are exact (scaled-int64 values, wide DECIMAL(38,0)
    accumulators ≡ HUGEINT — Σw·v reaches ~2.7e18 at 1000x); each
    replicate mean rounds via `dround` 6 before the percentile, and
    Spark ``percentile`` ≡ DuckDB ``quantile_cont`` (same linear
    interpolation) on the identical 48 doubles.

    Scale: ONE pass over the exploded (row x replicate) stream with a
    map-side-combinable conditional sum — the Poisson trick exists
    precisely so the bootstrap needs no global resampling state; rows
    drawing weight 0 (~37%) are filtered before the shuffle. The
    replicate frame is BOOT_B rows.

    vs reference: no analogue — the dashboard reports raw means
    (`dashboard_nfp.py:85-96`) with no uncertainty."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    v = _nearest_long_away(F.col("o_totalprice") * 10000)
    full = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(v.cast("decimal(38,0)")).alias("s_full"),
    )
    rows = orders.select(
        F.col("o_orderkey").alias("ok"), v.alias("v")
    ).select(
        "ok",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    u = _md5_uniform("boot:", F.col("b"), F.col("ok"))
    w = F.when(u < _POIS_CUM[0], F.lit(0))
    for k in range(1, 6):
        w = w.when(u < _POIS_CUM[k], F.lit(k))
    w = w.otherwise(F.lit(6))
    reps = (
        rows.select("b", "v", w.alias("w"))
        .filter(F.col("w") > 0)
        .groupBy("b")
        .agg(
            F.sum((F.col("w") * F.col("v")).cast("decimal(38,0)")).alias(
                "swv"
            ),
            F.sum("w").cast("long").alias("sw"),
        )
        .select(
            dround(
                F.col("swv").cast("double")
                / F.col("sw").cast("double")
                / 10000.0,
                6,
            ).alias("mean_b")
        )
    )
    ci = reps.agg(
        F.count(F.lit(1)).cast("int").alias("n_resamples"),
        F.percentile("mean_b", F.lit(0.025)).alias("lo"),
        F.percentile("mean_b", F.lit(0.975)).alias("hi"),
    )
    return full.crossJoin(F.broadcast(ci)).select(
        "n_orders",
        dround(
            F.col("s_full").cast("double")
            / 10000.0
            / F.col("n_orders").cast("double"),
            4,
        ).alias("mean_price"),
        dround(F.col("lo"), 4).alias("boot_lo95"),
        dround(F.col("hi"), 4).alias("boot_hi95"),
        "n_resamples",
    )


QUERIES["agg_bootstrap_ci"] = agg_bootstrap_ci

_BOOT_W_SQL = (
    "CASE WHEN u < 0.3678794412 THEN 0 WHEN u < 0.7357588823 THEN 1 "
    "WHEN u < 0.9196986029 THEN 2 WHEN u < 0.9810118431 THEN 3 "
    "WHEN u < 0.9963401532 THEN 4 WHEN u < 0.9994058152 THEN 5 "
    "ELSE 6 END"
)

ORACLE["agg_bootstrap_ci"] = (
    "WITH full_s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders, "
    "SUM(CAST(CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS HUGEINT)) "
    "AS s_full FROM orders), "
    f"r AS (SELECT CAST(range AS INT) AS b FROM range({BOOT_B})), "
    "e AS (SELECT b, CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS v, "
    + _md5_uniform_sql("boot:", "b", "o_orderkey")
    + " AS u FROM orders, r), "
    f"wv AS (SELECT b, v, {_BOOT_W_SQL} AS w FROM e), "
    "m AS (SELECT b, ROUND(CAST(SUM(CAST(w * v AS HUGEINT)) AS DOUBLE) "
    "/ CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) / 10000.0, 6) AS mean_b "
    "FROM wv WHERE w > 0 GROUP BY b), "
    "ci AS (SELECT CAST(COUNT(*) AS INT) AS n_resamples, "
    "quantile_cont(mean_b, 0.025) AS lo, "
    "quantile_cont(mean_b, 0.975) AS hi FROM m) "
    "SELECT n_orders, "
    "ROUND(CAST(s_full AS DOUBLE) / 10000.0 / CAST(n_orders AS DOUBLE), "
    "4) AS mean_price, "
    "ROUND(lo, 4) AS boot_lo95, ROUND(hi, 4) AS boot_hi95, n_resamples "
    "FROM full_s, ci"
)


def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Random-relabel permutation test** for the mean-price difference
    between URGENT (`o_orderpriority = '1-URGENT'`) and all other
    orders: ``PERM_P`` replicates re-assign every row to a pseudo-URGENT
    arm with probability n_urgent/n via the portable md5 uniform, and
    the p-value is the add-one-smoothed exceedance fraction
    ``(1 + #{|diff_p| ≥ |diff_obs|}) / (P + 1)`` (Phipson & Smyth 2010
    — the unbiased convention). Random RE-LABELING (Bernoulli with the
    observed arm rate) rather than an exact permutation of labels: an
    exact permutation needs a global shuffle of the label vector, while
    relabeling is per-row independent — the distributed form, and the
    two are asymptotically equivalent.

    Determinism: assignment is a pure md5 function of (replicate, row);
    per-replicate arm sums are exact wide-decimal integer sums; each
    diff rounds via `dround` 6 BEFORE the exceedance comparison, so the
    count compares identical doubles in both engines. Replicates where
    either pseudo-arm is empty are dropped by the same filter on both
    sides (with ~150k rows and q≈0.2 this never fires in practice).

    Scale: one base conditional aggregate + ONE exploded
    (row x replicate) pass with a map-side-combinable conditional sum;
    the replicate frame is PERM_P rows."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    v = _nearest_long_away(F.col("o_totalprice") * 10000)
    is_u = F.col("o_orderpriority") == "1-URGENT"
    base = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(is_u, 1).otherwise(0)).cast("long").alias("n_u"),
        F.sum(F.when(is_u, v).otherwise(0).cast("decimal(38,0)")).alias(
            "s_u"
        ),
        F.sum(F.when(~is_u, v).otherwise(0).cast("decimal(38,0)")).alias(
            "s_o"
        ),
    ).select(
        "n",
        "n_u",
        dround(
            F.col("s_u").cast("double")
            / F.col("n_u").cast("double")
            / 10000.0
            - F.col("s_o").cast("double")
            / (F.col("n") - F.col("n_u")).cast("double")
            / 10000.0,
            6,
        ).alias("diff_obs"),
        (F.col("n_u").cast("double") / F.col("n").cast("double")).alias(
            "q"
        ),
    )
    rows = orders.select(
        F.col("o_orderkey").alias("ok"), v.alias("v")
    ).select(
        "ok",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(PERM_P - 1))).alias("p"),
    )
    u = _md5_uniform("perm:", F.col("p"), F.col("ok"))
    flagged = rows.crossJoin(F.broadcast(base.select("q"))).select(
        "p", "v", (u < F.col("q")).alias("fa")
    )
    reps = (
        flagged.groupBy("p")
        .agg(
            F.sum(F.when(F.col("fa"), 1).otherwise(0))
            .cast("long")
            .alias("na"),
            F.sum(
                F.when(F.col("fa"), F.col("v"))
                .otherwise(0)
                .cast("decimal(38,0)")
            ).alias("sa"),
            F.sum(
                F.when(~F.col("fa"), F.col("v"))
                .otherwise(0)
                .cast("decimal(38,0)")
            ).alias("sb"),
            F.count(F.lit(1)).cast("long").alias("np"),
        )
        .filter((F.col("na") > 0) & (F.col("na") < F.col("np")))
        .select(
            dround(
                F.col("sa").cast("double")
                / F.col("na").cast("double")
                / 10000.0
                - F.col("sb").cast("double")
                / (F.col("np") - F.col("na")).cast("double")
                / 10000.0,
                6,
            ).alias("diff_p")
        )
    )
    exceed = reps.crossJoin(F.broadcast(base.select("diff_obs"))).agg(
        F.count(F.lit(1)).cast("int").alias("n_perms"),
        F.sum(
            F.when(
                F.abs(F.col("diff_p")) >= F.abs(F.col("diff_obs")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_exceed"),
    )
    return base.crossJoin(F.broadcast(exceed)).select(
        "n",
        F.col("n_u").alias("n_urgent"),
        dround(F.col("diff_obs"), 4).alias("diff_obs"),
        "n_perms",
        "n_exceed",
        dround(
            (F.lit(1) + F.col("n_exceed")).cast("double")
            / (F.lit(1) + F.col("n_perms")).cast("double"),
            6,
        ).alias("p_value"),
    )


QUERIES["agg_permutation_test"] = agg_permutation_test

ORACLE["agg_permutation_test"] = (
    "WITH base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_u, "
    "SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN "
    "CAST(CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS HUGEINT) "
    "ELSE 0 END) AS s_u, "
    "SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE "
    "CAST(CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS HUGEINT) "
    "END) AS s_o FROM orders), "
    "ob AS (SELECT n, n_u, "
    "ROUND(CAST(s_u AS DOUBLE) / CAST(n_u AS DOUBLE) / 10000.0 "
    "- CAST(s_o AS DOUBLE) / CAST(n - n_u AS DOUBLE) / 10000.0, 6) "
    "AS diff_obs, "
    "CAST(n_u AS DOUBLE) / CAST(n AS DOUBLE) AS q FROM base), "
    f"r AS (SELECT CAST(range AS INT) AS p FROM range({PERM_P})), "
    "e AS (SELECT p, CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS v, "
    + _md5_uniform_sql("perm:", "p", "o_orderkey")
    + " < (SELECT q FROM ob) AS fa FROM orders, r), "
    "g AS (SELECT p, "
    "CAST(SUM(CASE WHEN fa THEN 1 ELSE 0 END) AS BIGINT) AS na, "
    "SUM(CASE WHEN fa THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa, "
    "SUM(CASE WHEN fa THEN 0 ELSE CAST(v AS HUGEINT) END) AS sb, "
    "CAST(COUNT(*) AS BIGINT) AS np FROM e GROUP BY p), "
    "d AS (SELECT ROUND(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) "
    "/ 10000.0 - CAST(sb AS DOUBLE) / CAST(np - na AS DOUBLE) "
    "/ 10000.0, 6) AS diff_p FROM g WHERE na > 0 AND na < np), "
    "x AS (SELECT CAST(COUNT(*) AS INT) AS n_perms, "
    "CAST(SUM(CASE WHEN ABS(diff_p) >= "
    "(SELECT ABS(diff_obs) FROM ob) THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_exceed FROM d) "
    "SELECT n, n_u AS n_urgent, ROUND(diff_obs, 4) AS diff_obs, "
    "n_perms, n_exceed, "
    "ROUND(CAST(1 + n_exceed AS DOUBLE) "
    "/ CAST(1 + n_perms AS DOUBLE), 6) AS p_value FROM ob, x"
)


def agg_jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Delete-1 jackknife standard error of the ratio estimator**
    R = Σ(extendedprice)/Σ(quantity) over lineitem — the classic
    survey-statistics device (Quenouille/Tukey) for a NONLINEAR
    statistic whose variance has no exact closed form. The jackknife is
    embarrassingly distributable for ratios: each leave-one-out
    replicate ``R_(i) = (Sy − y_i)/(Sx − x_i)`` is a pure function of
    the row and the two broadcast totals, so the n replicates need no
    resampling pass — one totals aggregate, then one row-parallel pass.

    Determinism: totals are exact scaled-int sums in DECIMAL(38,0) ≡
    HUGEINT; each R_(i) is the identical double division in both
    engines and quantizes per-term to round(R_(i)·1e9) int64
    (~1.5e12 — far inside range); Σt and Σt² accumulate in
    DECIMAL(38,0) (Σt² ~1e32 at 100x, inside 38 digits). (Σt)² would
    overflow exact space at scale, so the mean-square term is computed
    in DOUBLE from the exact sums — the same IEEE expression both
    sides. var_jack = (n−1)/n · Σ(R_(i) − R̄_J)².

    Scale: two passes over the fact table (totals, then the broadcast-
    totals row pass), both map-side-combinable; no shuffle carries more
    than the aggregate partials."""
    from ..functions.numerics import _nearest_long_away

    li = read_table(spark, sf_dir, "lineitem")
    vy = _nearest_long_away(F.col("l_extendedprice") * 10000)
    vx = _nearest_long_away(F.col("l_quantity") * 10000)
    # eager-checkpoint the 1-row totals: they are referenced by BOTH the
    # row pass and the final select, and each uncheckpointed reference
    # re-executes the fact aggregate (plan audit round 15: 3 lineitem
    # scans → 2)
    tot = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(vy.cast("decimal(38,0)")).alias("sy"),
        F.sum(vx.cast("decimal(38,0)")).alias("sx"),
    ).localCheckpoint(eager=True)
    t = _nearest_long_away(
        (F.col("sy") - F.col("vy")).cast("double")
        / (F.col("sx") - F.col("vx")).cast("double")
        * 1e9
    )
    acc = (
        li.select(vy.alias("vy"), vx.alias("vx"))
        .crossJoin(F.broadcast(tot))
        .select(t.alias("t"))
        .agg(
            F.sum(F.col("t").cast("decimal(38,0)")).alias("st"),
            F.sum(
                (F.col("t").cast("decimal(38,0)") * F.col("t")).cast(
                    "decimal(38,0)"
                )
            ).alias("st2"),
        )
    )
    rbar = F.col("st").cast("double") / 1e9 / F.col("n").cast("double")
    ss = (
        F.col("st2").cast("double") / 1e18
        - F.col("n").cast("double") * rbar * rbar
    )
    var_jack = (
        (F.col("n") - 1).cast("double") / F.col("n").cast("double") * ss
    )
    return tot.crossJoin(F.broadcast(acc)).select(
        "n",
        dround(
            F.col("sy").cast("double") / F.col("sx").cast("double"), 6
        ).alias("ratio_price_per_qty"),
        dround(F.sqrt(F.greatest(var_jack, F.lit(0.0))), 6).alias(
            "jackknife_se"
        ),
    )


QUERIES["agg_jackknife_ratio_variance"] = agg_jackknife_ratio_variance

ORACLE["agg_jackknife_ratio_variance"] = (
    "WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    "SUM(CAST(CAST(ROUND(l_extendedprice * 10000) AS BIGINT) "
    "AS HUGEINT)) AS sy, "
    "SUM(CAST(CAST(ROUND(l_quantity * 10000) AS BIGINT) AS HUGEINT)) "
    "AS sx FROM lineitem), "
    "rowp AS (SELECT CAST(ROUND(CAST(sy - CAST(ROUND(l_extendedprice "
    "* 10000) AS BIGINT) AS DOUBLE) / CAST(sx - CAST(ROUND(l_quantity "
    "* 10000) AS BIGINT) AS DOUBLE) * 1000000000.0) AS BIGINT) AS t "
    "FROM lineitem, tot), "
    "acc AS (SELECT SUM(CAST(t AS HUGEINT)) AS st, "
    "SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS st2 FROM rowp) "
    "SELECT n, "
    "ROUND(CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE), 6) "
    "AS ratio_price_per_qty, "
    "ROUND(sqrt(GREATEST(CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE) * "
    "(CAST(st2 AS DOUBLE) / 1e18 - CAST(n AS DOUBLE) * "
    "(CAST(st AS DOUBLE) / 1e9 / CAST(n AS DOUBLE)) * "
    "(CAST(st AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))), 0.0)), 6) "
    "AS jackknife_se FROM tot, acc"
)


def agg_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**CUPED variance reduction** (Deng, Xu, Kohavi & Walker, WSDM'13
    — Controlled-experiment Using Pre-Experiment Data): regress each
    customer's 1997 spend (the experiment-period metric y) on their
    1996 spend (the pre-period covariate x), θ = cov(x,y)/var(x), and
    report the variance-reduction factor corr(x,y)² — the number that
    tells an experimentation platform how much smaller its confidence
    intervals get by adjusting the metric with pre-period behavior.

    Determinism: per-customer year sums are exact scaled ints; the five
    global moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in
    DECIMAL(38,0) ≡ HUGEINT with per-term wide products (x·y ~1e20);
    the covariance algebra then runs in DOUBLE from the exact sums —
    the identical IEEE expression both engines (exact cross-term space
    would need 76 digits).

    Scale: one groupBy(customer) shuffle, then a map-side-combinable
    global aggregate; customers absent from both years are excluded by
    construction (same rule both engines)."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    v = _nearest_long_away(F.col("o_totalprice") * 10000)
    yr = F.year("o_orderdate")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.when(yr == 1996, v).otherwise(0)).cast("long").alias("x"),
        F.sum(F.when(yr == 1997, v).otherwise(0)).cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = per_cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum((dec("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((dec("x") * F.col("x")).cast("decimal(38,0)")).alias("sx2"),
        F.sum((dec("y") * F.col("y")).cast("decimal(38,0)")).alias("sy2"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    varx_n = nd * F.col("sx2").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vary_n = nd * F.col("sy2").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    return mom.select(
        "n",
        dround(F.try_divide(cov_n, varx_n), 6).alias("theta"),
        dround(
            F.try_divide(cov_n * cov_n, varx_n * vary_n), 6
        ).alias("var_reduction"),
    )


QUERIES["agg_cuped_adjustment"] = agg_cuped_adjustment

ORACLE["agg_cuped_adjustment"] = (
    "WITH pc AS (SELECT o_custkey, "
    "CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN "
    "CAST(ROUND(o_totalprice * 10000) AS BIGINT) ELSE 0 END) AS BIGINT) "
    "AS x, "
    "CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN "
    "CAST(ROUND(o_totalprice * 10000) AS BIGINT) ELSE 0 END) AS BIGINT) "
    "AS y FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1), "
    "mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    "SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy, "
    "SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy, "
    "SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sx2, "
    "SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS sy2 FROM pc) "
    "SELECT n, "
    "ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) "
    "* CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), "
    "6) AS theta, "
    "ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) "
    "* CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))"
    " / ((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) "
    "* CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) "
    "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS var_reduction "
    "FROM mom"
)


TUKEY_Q_CRIT = 3.858  # studentized range q(0.05, k=5, df=inf)


def agg_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Tukey-Kramer HSD post-hoc pairwise comparisons** across the
    five order priorities (Tukey 1949; the step after
    `agg_oneway_anova` rejects — WHICH groups differ): for every pair,
    ``q = |m_a − m_b| / sqrt(s²_pooled/2 · (1/n_a + 1/n_b))`` against
    the studentized-range critical value q(0.05, k=5, df=∞) = 3.858
    (fixed constant, df is millions here).

    Determinism: per-group n/Σv/Σv² are exact (wide per-term squares);
    the pooled variance and every q assemble in DOUBLE from the exact
    sums; pairs come from a self-join of the 5-row group frame with a
    total (group_a < group_b) order.

    Scale: ONE map-side-combinable aggregate over orders; everything
    after runs on a ≤5-row frame."""
    from ..functions.numerics import _nearest_long_away

    orders = read_table(spark, sf_dir, "orders")
    v = _nearest_long_away(F.col("o_totalprice") * 10000)
    g = orders.groupBy(
        F.col("o_orderpriority").alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(v.cast("decimal(38,0)")).alias("sg"),
        F.sum(
            (v.cast("decimal(38,0)") * v).cast("decimal(38,0)")
        ).alias("qg"),
    )
    # pooled within-group variance: Σ_g (Q_g − S_g²/n_g) / (N − k),
    # assembled in double from the exact per-group sums. The 5-row
    # group frame is referenced THREE times (totals + both join sides)
    # — eager-checkpoint it or each reference re-runs the orders scan
    # (plan audit round 15).
    comp = g.select(
        "grp",
        "ng",
        (F.col("sg").cast("double") / F.col("ng").cast("double"))
        .alias("mean_s"),
        (
            F.col("qg").cast("double")
            - F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
        ).alias("ssw"),
    ).localCheckpoint(eager=True)
    tot = comp.agg(
        F.sum("ng").cast("long").alias("n_tot"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ssw").alias("ssw_tot"),
    )
    s2 = F.col("ssw_tot") / (F.col("n_tot") - F.col("k")).cast("double")
    a = comp.select(
        F.col("grp").alias("group_a"),
        F.col("ng").alias("na"),
        F.col("mean_s").alias("ma"),
    )
    b = comp.select(
        F.col("grp").alias("group_b"),
        F.col("ng").alias("nb"),
        F.col("mean_s").alias("mb"),
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b")).crossJoin(
        F.broadcast(tot)
    )
    se = F.sqrt(
        s2
        / 2.0
        * (
            1.0 / F.col("na").cast("double")
            + 1.0 / F.col("nb").cast("double")
        )
    )
    qstat = F.abs(F.col("ma") - F.col("mb")) / se
    return pairs.select(
        "group_a",
        "group_b",
        dround((F.col("ma") - F.col("mb")) / 10000.0, 4).alias(
            "mean_diff"
        ),
        dround(qstat, 6).alias("q_stat"),
        (qstat > F.lit(TUKEY_Q_CRIT)).cast("int").alias("significant"),
    ).orderBy("group_a", "group_b")


QUERIES["agg_tukey_hsd"] = agg_tukey_hsd

ORACLE["agg_tukey_hsd"] = (
    "WITH g AS (SELECT o_orderpriority AS grp, "
    "CAST(COUNT(*) AS BIGINT) AS ng, "
    "SUM(CAST(CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS HUGEINT)) "
    "AS sg, "
    "SUM(CAST(CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS HUGEINT) "
    "* CAST(CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS HUGEINT)) "
    "AS qg FROM orders GROUP BY 1), "
    "comp AS (SELECT grp, ng, "
    "CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS mean_s, "
    "CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) "
    "/ CAST(ng AS DOUBLE) AS ssw FROM g), "
    "tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n_tot, "
    "CAST(COUNT(*) AS BIGINT) AS k, SUM(ssw) AS ssw_tot FROM comp) "
    "SELECT a.grp AS group_a, b.grp AS group_b, "
    "ROUND((a.mean_s - b.mean_s) / 10000.0, 4) AS mean_diff, "
    "ROUND(ABS(a.mean_s - b.mean_s) / sqrt(tot.ssw_tot "
    "/ CAST(tot.n_tot - tot.k AS DOUBLE) / 2.0 "
    "* (1.0 / CAST(a.ng AS DOUBLE) + 1.0 / CAST(b.ng AS DOUBLE))), 6) "
    "AS q_stat, "
    "CAST(ABS(a.mean_s - b.mean_s) / sqrt(tot.ssw_tot "
    "/ CAST(tot.n_tot - tot.k AS DOUBLE) / 2.0 "
    "* (1.0 / CAST(a.ng AS DOUBLE) + 1.0 / CAST(b.ng AS DOUBLE))) "
    "> 3.858 AS INT) AS significant "
    "FROM comp a JOIN comp b ON a.grp < b.grp, tot "
    "ORDER BY group_a, group_b"
)
