"""Event-stream analytics: funnels, retention, sessions, CEP pattern
match, Markov chains (split out of ``analytics.py`` in round 14; keys
and semantics unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numerics import davg, davg_sql, dround, dsum, dsum_scaled
from ..functions.timeparts import epoch_micros_from_ntz, month_start, year_of
from ..io import read_table

QUERIES: dict = {}
ORACLE: dict = {}



def agg_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-funnel conversion (view → click → purchase, time-ordered per
    user): the product-analytics staple the aggregate family otherwise
    lacks. Stage timestamps are chained conditional window minimums —
    first view, first click AT OR AFTER that view, first purchase at or
    after that click — so a user converts only by traversing the stages
    in order. All three windows partition on ``user_id`` → ONE exchange
    (the per-user rollup reuses the same partitioning); comparisons are
    raw NTZ timestamps, no epoch arithmetic (CLAUDE.md 6a). Counts
    divide as conditional aggregates with zero-guards so the operator is
    total on an empty fixture."""
    ev = read_table(spark, sf_dir, "events")
    u = Window.partitionBy("user_id")
    a = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(u).alias("mv"),
    )
    b = a.select(
        "user_id",
        "event_type",
        "ts",
        "mv",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") >= F.col("mv")),
                F.col("ts"),
            )
        ).over(u).alias("mc"),
    )
    c = b.select(
        "user_id",
        "mv",
        "mc",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("mc")),
                F.col("ts"),
            )
        ).over(u).alias("mp"),
    )
    per_user = c.groupBy("user_id").agg(
        F.max("mv").alias("mv"), F.max("mc").alias("mc"), F.max("mp").alias("mp")
    )
    rate = lambda num, den: F.when(  # noqa: E731
        F.count(den) > 0, F.round(F.count(num) / F.count(den), 6)
    ).otherwise(F.lit(0.0))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("mv").alias("n_view"),
        F.count("mc").alias("n_click"),
        F.count("mp").alias("n_purchase"),
        rate("mc", "mv").alias("view_to_click"),
        rate("mp", "mc").alias("click_to_purchase"),
        rate("mp", "mv").alias("view_to_purchase"),
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity DAY,
    counted on each subsequent day they return (daily granularity —
    the events fixture spans ~30 days, so monthly cohorts would be
    degenerate; the shape is granularity-agnostic). Day math is calendar
    arithmetic on naive walls (``date_trunc``/``datediff``) — no
    epoch↔instant conversion, no timezone exposure (CLAUDE.md 6a).
    Shape: per-user first day via one user-partitioned window, distinct
    (user, day) pairs, then the (cohort, offset) count-distinct — the
    cohort matrix is O(days²) rows regardless of corpus size, and the
    heavy stages share the user shuffle key."""
    ev = read_table(spark, sf_dir, "events")
    d = ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
    u = Window.partitionBy("user_id")
    k = d.select(
        "user_id", "day", F.min("day").over(u).alias("cohort_day")
    ).distinct()
    return (
        k.groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active_users"))
        .select(
            "cohort_day",
            F.col("day_offset").cast("int").alias("day_offset"),
            "n_active_users",
        )
        .orderBy("cohort_day", "day_offset")
    )


QUERIES["agg_funnel_conversion"] = agg_funnel_conversion
QUERIES["retention_cohorts"] = retention_cohorts

ORACLE["agg_funnel_conversion"] = (
    "WITH a AS (SELECT user_id, event_type, ts, "
    "MIN(CASE WHEN event_type = 'view' THEN ts END) "
    "OVER (PARTITION BY user_id) AS mv FROM events), "
    "b AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= mv "
    "THEN ts END) OVER (PARTITION BY user_id) AS mc FROM a), "
    "c AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= mc "
    "THEN ts END) OVER (PARTITION BY user_id) AS mp FROM b), "
    "pu AS (SELECT user_id, MAX(mv) AS mv, MAX(mc) AS mc, MAX(mp) AS mp "
    "FROM c GROUP BY user_id) "
    "SELECT COUNT(*) AS n_users, COUNT(mv) AS n_view, "
    "COUNT(mc) AS n_click, COUNT(mp) AS n_purchase, "
    "CASE WHEN COUNT(mv) > 0 THEN ROUND(COUNT(mc) * 1.0 / COUNT(mv), 6) "
    "ELSE 0.0 END AS view_to_click, "
    "CASE WHEN COUNT(mc) > 0 THEN ROUND(COUNT(mp) * 1.0 / COUNT(mc), 6) "
    "ELSE 0.0 END AS click_to_purchase, "
    "CASE WHEN COUNT(mv) > 0 THEN ROUND(COUNT(mp) * 1.0 / COUNT(mv), 6) "
    "ELSE 0.0 END AS view_to_purchase FROM pu"
)

ORACLE["retention_cohorts"] = (
    "WITH d AS (SELECT user_id, date_trunc('day', ts) AS day FROM events), "
    "k AS (SELECT DISTINCT user_id, day, "
    "MIN(day) OVER (PARTITION BY user_id) AS cohort_day FROM d) "
    "SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day, "
    "CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset, "
    "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users "
    "FROM k GROUP BY cohort_day, date_diff('day', cohort_day, day) "
    "ORDER BY cohort_day, day_offset"
)


def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **last-touch attribution** (the standard marketing-
    analytics credit model): each purchase credits 100 % of its value to
    the user's most recent PRIOR non-purchase event within a 7-day
    lookback, else to 'direct'. Emits the per-channel attribution
    rollup (purchase count + attributed revenue) — the campaign-ROI
    table every funnel dashboard pairs with `agg_funnel_conversion`.

    One exchange by user: the carry of (last non-purchase type, its ts)
    is a pair of ignore-nulls `last()` frames over the SAME user window
    the purchases then read; the lookback is an exact NTZ interval
    compare (CLAUDE.md 6a — no epoch decomposition, no FP seconds).
    (event_id tiebreak makes the frame order total under equal
    timestamps.)
    """
    from pyspark.sql.window import Window

    from ..functions.numerics import dsum

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value", "event_id"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    non_purchase_ts = F.when(
        F.col("event_type") != "purchase", F.col("ts")
    )
    carried = ev.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.last(non_purchase, ignorenulls=True).over(w).alias("prior_type"),
        F.last(non_purchase_ts, ignorenulls=True).over(w).alias("prior_ts"),
    )
    purchases = carried.filter(F.col("event_type") == "purchase")
    within = F.col("prior_ts").isNotNull() & (
        (F.col("ts") - F.col("prior_ts")) <= F.expr("INTERVAL '7' DAY")
    )
    return (
        purchases.select(
            F.when(within, F.col("prior_type"))
            .otherwise(F.lit("direct"))
            .alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(dsum("value"), 4).alias("attributed_value"),
        )
        .orderBy("channel")
    )


QUERIES["events_attribution_last_touch"] = events_attribution_last_touch

ORACLE["events_attribution_last_touch"] = (
    "WITH c AS (SELECT user_id, ts, event_type, value, "
    "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END "
    "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_type, "
    "last_value(CASE WHEN event_type <> 'purchase' THEN ts END "
    "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_ts "
    "FROM events), "
    "p AS (SELECT CASE WHEN prior_ts IS NOT NULL "
    "AND ts - prior_ts <= INTERVAL 7 DAY THEN prior_type "
    "ELSE 'direct' END AS channel, value FROM c "
    "WHERE event_type = 'purchase') "
    "SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases, "
    "ROUND(CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE) "
    "/ 10000.0, 4) AS attributed_value "
    "FROM p GROUP BY 1 ORDER BY 1"
)


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **first-order Markov transition matrix** over the
    per-user event stream (the clickstream "what happens after X" model
    behind next-action prediction and anomaly scoring): for every
    ordered pair of consecutive events of one user, count the
    (prev_type → event_type) transition and row-normalize into
    ``P(next | prev)``.

    One exchange by user carries the lag (the ``sessionize_batch``
    shape); the transition table is at most |event_type|² rows, so the
    row-normalizing window runs over a k²-sized aggregate — at 100 TB
    the only corpus-sized cost is the per-user ordering shuffle, which
    AQE skew-splits on hot users. The probability is a per-row quotient
    emitted once per matrix CELL (small output), but rounds via
    ``dround`` anyway per the engine-wide 6-dp ratio rule.

    vs reference: no analogue — the reference's only sequence device is
    the lag-1 pct_change (`dashboard_nfp.py:152`); this is the same lag
    window applied to a categorical column and re-aggregated.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"), "event_type"
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_tot = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "event_type",
        "n",
        dround(F.col("n") / F.sum("n").over(row_tot), 6).alias("prob"),
    ).orderBy("prev_type", "event_type")


QUERIES["events_markov_transitions"] = events_markov_transitions

ORACLE["events_markov_transitions"] = (
    "WITH p AS (SELECT LAG(event_type) OVER ("
    "PARTITION BY user_id ORDER BY ts, event_id) AS prev_type, "
    "event_type FROM events), "
    "c AS (SELECT prev_type, event_type, COUNT(*) AS n FROM p "
    "WHERE prev_type IS NOT NULL GROUP BY 1, 2) "
    "SELECT prev_type, event_type, n, "
    "ROUND(CAST(n AS DOUBLE) / "
    "CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS prob "
    "FROM c ORDER BY 1, 2"
)


def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **sequence-pattern matching** over the per-user event
    stream: find every contiguous run matching ``view (click)* purchase``
    in the user's (ts, event_id)-ordered sequence — the
    MATCH_RECOGNIZE / CEP capability (SQL:2016 row-pattern recognition;
    Flink CEP's bread-and-butter) expressed as pure window functions.

    The device is the **last-non-matching-anchor**: for every event,
    carry (a) the sequence number and (b) the type/timestamp of the most
    recent NON-click event strictly before it — a conditional running
    ``max`` plus two ignore-nulls ``last`` frames. A ``purchase`` whose
    last non-click predecessor is a ``view`` closes exactly one maximal
    ``view click* purchase`` run, with ``n_clicks = seq gap - 1``; runs
    interrupted by any other event type never match, runs sharing the
    same view anchor cannot occur (the purchase itself is non-click and
    re-anchors). Each match is emitted once with its anchor timestamps —
    no regex over concatenated symbols, no self-join, no per-row UDF.

    Scale: ONE exchange by user (the ``sessionize_batch`` shape — the
    row_number and the three anchor frames share the same partition+sort,
    so Catalyst plans a single sort with stacked Window operators); the
    filter is post-window, everything stays in whole-stage codegen. At
    100 TB hot users AQE-skew-split exactly as sessionize does.

    vs reference: no analogue — the reference's only sequence device is
    lag-1 pct_change (`dashboard_nfp.py:152`); this is the general
    ordered-pattern extension of the same window machinery.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    return _pattern_match_events(ev, pre_range=True)


def _pattern_match_events(ev: DataFrame, pre_range: bool = False) -> DataFrame:
    """The view-click*-purchase window stack over a 5-column events frame
    — shared verbatim by the flat-scan operator above and the
    user-bucketed `layout.events_pattern_match_clustered` (layout is
    physical, never semantic: byte-identical output, one oracle).

    ``pre_range`` (round 16, VERDICT r15 item 1 — flat path only): make
    the window stack's one exchange a RANGE partitioning by user_id
    instead of the hash exchange the window would insert. Range
    partitioning by user_id satisfies the window's ClusteredDistribution
    (equal keys land in one partition), and because the within-partition
    sort is (user_id, ts, event_id), the filtered matches leave the
    stack ALREADY in the declared global output order — Catalyst elides
    the final orderBy's exchange AND sort (alias-aware ordering
    propagation through the project). That kills the plan's second
    exchange and, decisively, the range-partitioner SAMPLING pass that
    re-executed the whole sort+window stack once per run (measured at
    30x: full 1.31 s vs 0.69 s with the trailing sort removed — the
    orderBy was HALF the query). The bucketed twin keeps the default:
    its scan is hash-bucketed at rest, an extra range exchange would
    un-bucket it; its final sort runs over matches only, off a
    zero-exchange scan.
    """
    # Encode event_type to a TINYINT before the exchange: the output
    # carries no strings (only "is click / is view / is purchase"
    # decisions survive), and the 10-100x profile shows the user_id
    # shuffle+sort IS the query (~2.4 of 3.4 s at 100x) — dropping the
    # variable-length string from every shuffled row narrows the
    # UnsafeRow payload ~25% for free. Catalyst keeps this projection
    # below the exchange (round-14, VERDICT r13 item 3).
    ev = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", F.lit(0))
        .when(F.col("event_type") == "view", F.lit(1))
        .when(F.col("event_type") == "purchase", F.lit(2))
        .otherwise(F.lit(3))
        .cast("tinyint")
        .alias("etype"),
        "value",
    )
    if pre_range:
        # AFTER the narrow projection (the tinyint etype, not the string,
        # rides the exchange); partition count = spark.sql.shuffle
        # .partitions, scale-adaptive under the session posture/AQE
        ev = ev.repartitionByRange(F.col("user_id"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # project seq BEFORE the anchor frames reference it (rule 3)
    seqd = ev.select(
        "user_id",
        "ts",
        "event_id",
        "etype",
        "value",
        F.row_number().over(w).alias("seq"),
    )
    # the anchor frames order by (ts, event_id) — the SAME ordering seq
    # was numbered over — not by seq: ordering by the derived column
    # made Catalyst re-sort every partition between the two Window
    # operators (row 13: sort-count 3 → 2 in the flat plan, and off the
    # (user_id, ts, event_id)-sorted bucketed layout the whole pre-window
    # sort pipeline vanishes). ROWS BETWEEN frames care only about row
    # positions, which are identical under either key.
    wf = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # ONE ignore-nulls `last` over a struct replaces the former
    # max(seq) + last(type) + last(ts) trio: seq is monotone within the
    # frame, so the max non-click seq IS the last non-click row's seq —
    # one window-buffer function evaluation instead of three over the
    # same ROWS frame (round-14, VERDICT r13 item 3).
    nc_struct = F.last(
        F.when(
            F.col("etype") != 0,
            F.struct(
                F.col("seq").alias("seq"),
                F.col("etype").alias("etype"),
                F.col("ts").alias("ts"),
            ),
        ),
        ignorenulls=True,
    ).over(wf)
    # alias the struct ONCE and split fields in a FOLLOWING select:
    # three inline .getField calls each extract their own copy of the
    # window expression (last(_w0)/last(_w1)/last(_w2) — verified in the
    # optimized plan), while a single aliased column plans exactly one.
    anchored = seqd.select(
        "user_id",
        "ts",
        "event_id",
        "etype",
        "value",
        "seq",
        nc_struct.alias("nc"),
    ).select(
        "user_id",
        "ts",
        "event_id",
        "etype",
        "value",
        "seq",
        F.col("nc.seq").alias("nc_seq"),
        F.col("nc.etype").alias("nc_type"),
        F.col("nc.ts").alias("nc_ts"),
    )
    return (
        anchored.filter((F.col("etype") == 2) & (F.col("nc_type") == 1))
        .select(
            "user_id",
            F.col("nc_ts").alias("view_ts"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_event_id"),
            (F.col("seq") - F.col("nc_seq") - 1).cast("int").alias("n_clicks"),
            F.col("value").alias("purchase_value"),
        )
        .orderBy("user_id", "purchase_ts", "purchase_event_id")
    )


QUERIES["events_pattern_match"] = events_pattern_match

ORACLE["events_pattern_match"] = (
    "WITH s1 AS (SELECT user_id, ts, event_id, event_type, value, "
    "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq "
    "FROM events), "
    "s2 AS (SELECT user_id, ts, event_id, event_type, value, seq, "
    "MAX(CASE WHEN event_type <> 'click' THEN seq END) OVER wf AS nc_seq, "
    "LAST_VALUE(CASE WHEN event_type <> 'click' THEN event_type END "
    "IGNORE NULLS) OVER wf AS nc_type, "
    "LAST_VALUE(CASE WHEN event_type <> 'click' THEN ts END "
    "IGNORE NULLS) OVER wf AS nc_ts "
    "FROM s1 WINDOW wf AS (PARTITION BY user_id ORDER BY seq "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) "
    "SELECT user_id, nc_ts AS view_ts, ts AS purchase_ts, "
    "event_id AS purchase_event_id, "
    "CAST(seq - nc_seq - 1 AS INT) AS n_clicks, "
    "value AS purchase_value "
    "FROM s2 WHERE event_type = 'purchase' AND nc_type = 'view' "
    "ORDER BY user_id, purchase_ts, purchase_event_id"
)


# --- Kaplan–Meier survival estimate --------------------------------------------

KM_LN_SCALE = 1_000_000_000_000  # 1e12: per-step ln(factor) quantization
KM_ZERO_SENTINEL = -(10**15)  # exp(cum/1e12) underflows to exactly 0.0
_US_PER_DAY = 86_400_000_000


def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Kaplan–Meier survival estimate** (JASA 1958) of time from a
    user's FIRST click to their FIRST subsequent purchase, with users
    who never purchase RIGHT-CENSORED at the fixture's horizon (the
    global max event time) — the correct treatment of the funnel
    question `agg_funnel_conversion` answers only for completed
    conversions (dropping non-converters biases time-to-convert low;
    censoring is the whole point of KM).

    Per distinct duration d (days): d_i = conversions at d, n_i = users
    still at risk (duration ≥ d, converted or censored), and
    S(d) = Π_{j ≤ d} (1 − d_j/n_j).

    Determinism: durations are exact int64 epoch-microsecond
    differences floor-divided to days (`epoch_micros_from_ntz`, rule
    6a — no tz-dependent casts); d_i/n_i/m_i are exact counts; the
    product runs as exp of a CUMULATIVE SUM of per-step ln factors
    each quantized to scaled int64 (×1e12 ties-away — the
    `corpus_entropy_by_source` convention: identical doubles into
    ln/exp on both engines, quantization absorbing any libm-vs-JVM
    ULP), so the running sum is exact integer arithmetic; a
    d_i = n_i step (everyone at risk converts) contributes the
    KM_ZERO_SENTINEL instead of ln(0), and exp then underflows to
    exactly 0.0 in both engines.

    Scale: two keyed aggregates over events (first click, first
    subsequent purchase — map-side combinable mins) + one LEFT join on
    user; the KM table itself is ~distinct-durations rows through two
    global windows (tiny by construction: durations are bounded by the
    fixture's day span)."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_type",
        epoch_micros_from_ntz(F.col("ts")).alias("us"),
    )
    t0 = (
        base.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("us").alias("t0"))
    )
    tmax = base.agg(F.max("us").alias("tmax"))
    p = (
        base.filter(F.col("event_type") == "purchase")
        .join(t0, "user_id")
        .filter(F.col("us") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("us").alias("tp"))
    )
    cohort = (
        t0.join(p, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            F.when(F.col("tp").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_event"),
            F.expr(
                f"(coalesce(tp, tmax) - t0) div {_US_PER_DAY}"
            ).alias("dur"),
        )
    )
    perd = cohort.groupBy("dur").agg(
        F.sum("is_event").alias("d_i"), F.count(F.lit(1)).alias("m_i")
    )
    w_risk = Window.partitionBy().orderBy(F.col("dur").desc())
    risk = perd.select(
        "dur", "d_i", "m_i", F.sum("m_i").over(w_risk).alias("n_i")
    )
    ln_f = F.log(
        (F.col("n_i") - F.col("d_i")).cast("double")
        / F.col("n_i").cast("double")
    )
    km = risk.filter(F.col("d_i") > 0).select(
        "dur",
        "d_i",
        "n_i",
        F.when(
            F.col("d_i") < F.col("n_i"),
            dround(ln_f * F.lit(float(KM_LN_SCALE)), 0).cast("long"),
        )
        .otherwise(F.lit(KM_ZERO_SENTINEL))
        .alias("ls"),
    )
    w_cum = Window.partitionBy().orderBy("dur")
    return (
        km.select(
            "dur",
            "d_i",
            "n_i",
            F.sum("ls").over(w_cum).alias("cum"),
        )
        .select(
            F.col("dur").alias("duration_days"),
            F.col("n_i").cast("long").alias("n_risk"),
            F.col("d_i").cast("long").alias("d_events"),
            dround(
                F.exp(
                    F.col("cum").cast("double")
                    / F.lit(float(KM_LN_SCALE))
                ),
                6,
            ).alias("survival"),
        )
        .orderBy("duration_days")
    )


QUERIES["events_survival_km"] = events_survival_km

ORACLE["events_survival_km"] = (
    "WITH b AS (SELECT user_id, event_type, "
    "epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), "
    "t0 AS (SELECT user_id, MIN(us) AS t0 FROM b "
    "WHERE event_type = 'click' GROUP BY 1), "
    "tm AS (SELECT MAX(us) AS tmax FROM b), "
    "p AS (SELECT b.user_id, MIN(us) AS tp FROM b "
    "JOIN t0 ON t0.user_id = b.user_id "
    "WHERE event_type = 'purchase' AND us >= t0 GROUP BY 1), "
    "coh AS (SELECT CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END "
    "AS is_event, "
    f"CAST((COALESCE(tp, tmax) - t0) // {_US_PER_DAY} AS BIGINT) AS dur "
    "FROM t0 LEFT JOIN p ON p.user_id = t0.user_id, tm), "
    "perd AS (SELECT dur, CAST(SUM(is_event) AS BIGINT) AS d_i, "
    "CAST(COUNT(*) AS BIGINT) AS m_i FROM coh GROUP BY 1), "
    "r AS (SELECT dur, d_i, m_i, "
    "CAST(SUM(m_i) OVER (ORDER BY dur DESC) AS BIGINT) AS n_i "
    "FROM perd), "
    "km AS (SELECT dur, d_i, n_i, "
    "CASE WHEN d_i < n_i THEN "
    "CAST(ROUND(ln(CAST(n_i - d_i AS DOUBLE) / CAST(n_i AS DOUBLE)) "
    f"* {float(KM_LN_SCALE)}) AS BIGINT) "
    f"ELSE {KM_ZERO_SENTINEL} END AS ls "
    "FROM r WHERE d_i > 0), "
    "c AS (SELECT dur, d_i, n_i, "
    "CAST(SUM(ls) OVER (ORDER BY dur) AS BIGINT) AS cum FROM km) "
    "SELECT dur AS duration_days, n_i AS n_risk, d_i AS d_events, "
    f"ROUND(exp(CAST(cum AS DOUBLE) / {float(KM_LN_SCALE)}), 6) "
    "AS survival "
    "FROM c ORDER BY duration_days"
)


# --- Top user path trigrams (sequential pattern counts) ----------------------------

PATH_TOP_K = 20


def events_user_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **top event-type trigram paths** across the per-user
    event streams (the k=3 special case of sequential pattern mining,
    Agrawal & Srikant ICDE'95; the order-3 extension of
    `events_markov_transitions`' first-order matrix): which 3-step
    behaviors are most common?

    One exchange by user carries BOTH leads (same WindowSpec → one sort,
    the `sessionize_batch` shape); the trigram table is ≤|types|³ rows.
    Counts exact; total order (n DESC, path ASC) with LIMIT — a
    TakeOrdered, no global sort.

    vs reference: no analogue (the reference has no sequence surface
    beyond lag-1 pct_change, `dashboard_nfp.py:152`)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        tri.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "e1", "e2", "e3")
        .limit(PATH_TOP_K)
    )


QUERIES["events_user_path_trigrams"] = events_user_path_trigrams

ORACLE["events_user_path_trigrams"] = (
    "WITH t AS (SELECT event_type AS e1, "
    "LEAD(event_type, 1) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS e2, "
    "LEAD(event_type, 2) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS e3 FROM events) "
    "SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_paths "
    "FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL "
    "GROUP BY 1, 2, 3 "
    f"ORDER BY n_paths DESC, e1, e2, e3 LIMIT {PATH_TOP_K}"
)


# --- Inter-arrival time statistics per event type ----------------------------------


def events_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **inter-arrival time statistics** per event type:
    the gap distribution between consecutive events of each type (the
    arrival-process view of the stream — what a capacity planner or
    anomaly detector reads; the global-per-type complement of
    `events_sessionish`'s per-user gaps).

    Timestamp discipline per CLAUDE.md rule 6/6a: epoch micros via
    `epoch_micros_from_ntz` (pure wall arithmetic, session-timezone
    proof); gaps are exact int64 micro differences ordered by the
    total (ts, event_id) key; mean is one division of exact ints;
    median/p90 are Spark ``percentile`` ≡ DuckDB ``quantile_cont`` on
    the integer gaps (the `agg_percentiles` device). All exposed
    seconds values descale by 1e6 inside a single `dround` 6.

    Scale: one exchange by event type (k partitions — coarse, but the
    per-type sort is exactly the arrival-order question; a 100 TB
    deployment would pre-bucket by type) + one rollup."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id"
    )
    us = epoch_micros_from_ntz(F.col("ts"))
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = (
        ev.select("event_type", us.alias("us"), "event_id")
        .select(
            "event_type",
            (F.col("us") - F.lag("us").over(w)).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap").alias("sum_gap"),
            F.percentile("gap", F.lit(0.5)).alias("med"),
            F.percentile("gap", F.lit(0.9)).alias("p90"),
            F.max("gap").alias("mx"),
        )
        .select(
            "event_type",
            F.col("n_gaps").cast("long").alias("n_gaps"),
            dround(
                F.col("sum_gap").cast("double")
                / F.col("n_gaps").cast("double")
                / F.lit(1e6),
                6,
            ).alias("mean_gap_s"),
            dround(F.col("med") / F.lit(1e6), 6).alias("median_gap_s"),
            dround(F.col("p90") / F.lit(1e6), 6).alias("p90_gap_s"),
            dround(F.col("mx").cast("double") / F.lit(1e6), 6).alias(
                "max_gap_s"
            ),
        )
        .orderBy("event_type")
    )


QUERIES["events_inter_arrival_stats"] = events_inter_arrival_stats

ORACLE["events_inter_arrival_stats"] = (
    "WITH b AS (SELECT event_type, "
    "epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events), "
    "g AS (SELECT event_type, "
    "us - LAG(us) OVER (PARTITION BY event_type ORDER BY us, event_id) "
    "AS gap FROM b), "
    "a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps, "
    "CAST(SUM(gap) AS BIGINT) AS sum_gap, "
    "quantile_cont(gap, 0.5) AS med, quantile_cont(gap, 0.9) AS p90, "
    "CAST(MAX(gap) AS BIGINT) AS mx "
    "FROM g WHERE gap IS NOT NULL GROUP BY 1) "
    "SELECT event_type, n_gaps, "
    "ROUND(CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE) / 1e6, 6) "
    "AS mean_gap_s, "
    "ROUND(med / 1e6, 6) AS median_gap_s, "
    "ROUND(p90 / 1e6, 6) AS p90_gap_s, "
    "ROUND(CAST(mx AS DOUBLE) / 1e6, 6) AS max_gap_s "
    "FROM a ORDER BY event_type"
)


# --- DAU/MAU stickiness per month ---------------------------------------------------


def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **DAU/MAU stickiness** per month: average daily
    active users over monthly active users (the classic product
    engagement ratio), plus the raw actives. The calendar-grain
    engagement view beside `retention_cohorts` (cohort survival) and
    `events_sessionish` (session grain).

    Two exact distinct-count aggregates (daily and monthly actives —
    the 100 TB path swaps in HLL sketch partials, `agg_hll_sketch_merge`);
    stickiness = Σdau / (n_days·mau) is ONE division of exact integers
    (`dround` 6). Month emitted as the NTZ wall timestamp (CLAUDE.md
    rule 6a; the oracle CASTs DuckDB's date_trunc DATE back to
    TIMESTAMP, rule 4)."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    daily = ev.groupBy(
        F.date_trunc("month", "ts").alias("month"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    monthly = ev.groupBy(F.date_trunc("month", "ts").alias("month")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    per = daily.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("dau").alias("sum_dau"),
    )
    return (
        per.join(monthly, "month")
        .select(
            "month",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("mau").cast("long").alias("mau"),
            dround(
                F.col("sum_dau").cast("double")
                / F.col("n_days").cast("double"),
                6,
            ).alias("avg_dau"),
            dround(
                F.col("sum_dau").cast("double")
                / (F.col("n_days") * F.col("mau")).cast("double"),
                6,
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


QUERIES["events_dau_mau_stickiness"] = events_dau_mau_stickiness

ORACLE["events_dau_mau_stickiness"] = (
    "WITH daily AS (SELECT date_trunc('month', ts) AS month, "
    "date_trunc('day', ts) AS day, "
    "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau "
    "FROM events GROUP BY 1, 2), "
    "monthly AS (SELECT date_trunc('month', ts) AS month, "
    "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau "
    "FROM events GROUP BY 1), "
    "per AS (SELECT month, CAST(COUNT(*) AS BIGINT) AS n_days, "
    "CAST(SUM(dau) AS BIGINT) AS sum_dau FROM daily GROUP BY 1) "
    "SELECT CAST(per.month AS TIMESTAMP) AS month, n_days, mau, "
    "ROUND(CAST(sum_dau AS DOUBLE) / CAST(n_days AS DOUBLE), 6) "
    "AS avg_dau, "
    "ROUND(CAST(sum_dau AS DOUBLE) / CAST(n_days * mau AS DOUBLE), 6) "
    "AS stickiness "
    "FROM per JOIN monthly ON per.month = monthly.month "
    "ORDER BY month"
)


# --- Hour-of-day activity profile per event type -------------------------------------


def events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **hour-of-day activity profile** per event type:
    event counts and within-type share by wall-clock hour (the
    diurnal-pattern view behind load planning and bot detection; the
    calendar companion of `events_inter_arrival_stats`' gap view).

    Hours come off the NTZ wall timestamp (`F.hour` on TIMESTAMP_NTZ ≡
    DuckDB `hour()` on the naive fixture walls — no session-timezone
    dependence, CLAUDE.md rule 6a). Counts exact; share is one division
    per (type, hour) cell of a ≤|types|·24 frame, `dround` 6.

    Scale: ONE map-side-combinable count aggregate; the share window
    runs on the tiny profile frame."""
    ev = read_table(spark, sf_dir, "events").select("event_type", "ts")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour_of_day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type")
    return (
        cells.select(
            "event_type",
            "hour_of_day",
            F.col("n_events").cast("long").alias("n_events"),
            dround(
                F.col("n_events").cast("double")
                / F.sum("n_events").over(w).cast("double"),
                6,
            ).alias("share_of_type"),
        )
        .orderBy("event_type", "hour_of_day")
    )


QUERIES["events_hourly_profile"] = events_hourly_profile

ORACLE["events_hourly_profile"] = (
    "WITH c AS (SELECT event_type, "
    "CAST(hour(ts) AS INT) AS hour_of_day, "
    "CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2) "
    "SELECT event_type, hour_of_day, n_events, "
    "ROUND(CAST(n_events AS DOUBLE) / CAST(SUM(n_events) "
    "OVER (PARTITION BY event_type) AS DOUBLE), 6) AS share_of_type "
    "FROM c ORDER BY event_type, hour_of_day"
)


# --- Pareto 80/20 concentration of event volume -------------------------------------


def events_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **Pareto 80/20 concentration** of event volume over
    users: the smallest user set covering ≥80% of all events (the
    "how concentrated is engagement" question;
    `agg_gini_customer_revenue` gives the index-number view, this the
    actionable cutoff). k is found by an exact INTEGER comparison
    (5·cum ≥ 4·total — no FP threshold), counting ranks strictly below
    the cutoff; event counts and cumulative sums are exact.

    Scale: one count rollup to user grain, then everything runs on the
    DISTINCT-count block table (round 14 — the per-user global rank
    window this replaces was a single-task sort of a user-cardinality
    frame): within a block of users sharing count c, the j-th user
    (user_id order) has cum = events_before + j·c, so the crossing
    rank is pure integer arithmetic — j* = ⌈(4·total − 5·eb)/(5c)⌉,
    k = users_before + j*, cum_k = eb + j*·c. The only window runs
    over distinct per-user counts (bounded by the max events one user
    has — hundreds, not user-cardinality)."""
    ev = read_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    per_c = per.groupBy("c").agg(F.count(F.lit(1)).alias("u"))
    w_desc = (
        Window.partitionBy()
        .orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pc = per_c.select(
        "c",
        "u",
        (F.col("c") * F.col("u")).alias("s"),
        F.coalesce(F.sum("u").over(w_desc), F.lit(0)).alias("ub"),
        F.coalesce(
            F.sum(F.col("c") * F.col("u")).over(w_desc), F.lit(0)
        ).alias("eb"),
    )
    tot = per_c.agg(
        F.sum("u").alias("n_users"),
        F.sum(F.col("c") * F.col("u")).alias("total"),
    )
    jj = pc.crossJoin(F.broadcast(tot))
    # the unique block where the cumulative crosses 80%: strictly below
    # before it, at-or-above by its end
    blk = jj.filter(
        (F.lit(5) * F.col("eb") < F.lit(4) * F.col("total"))
        & (
            F.lit(5) * (F.col("eb") + F.col("s"))
            >= F.lit(4) * F.col("total")
        )
    )
    jstar = F.floor(
        (
            F.lit(4) * F.col("total")
            - F.lit(5) * F.col("eb")
            + F.lit(5) * F.col("c")
            - F.lit(1)
        )
        / (F.lit(5) * F.col("c"))
    )
    at_k = blk.select(
        (F.col("ub") + jstar).cast("long").alias("k"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("total").cast("long").alias("total_events"),
        (F.col("eb") + jstar * F.col("c")).alias("cum_k"),
    )
    return at_k.select(
        F.col("n_users"),
        F.col("total_events"),
        F.col("k").alias("k_users_80"),
        dround(
            F.col("k").cast("double") / F.col("n_users").cast("double"),
            6,
        ).alias("user_share"),
        dround(
            F.col("cum_k").cast("double")
            / F.col("total_events").cast("double"),
            6,
        ).alias("event_share"),
    )


QUERIES["events_pareto_8020"] = events_pareto_8020

ORACLE["events_pareto_8020"] = (
    "WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c "
    "FROM events GROUP BY 1), "
    "r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rn, "
    "CAST(SUM(c) OVER (ORDER BY c DESC, user_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum "
    "FROM per), "
    "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users, "
    "CAST(MAX(cum) AS BIGINT) AS total FROM r), "
    "ka AS (SELECT CAST(SUM(CASE WHEN 5 * cum < 4 * total "
    "THEN 1 ELSE 0 END) + 1 AS BIGINT) AS k FROM r, t) "
    "SELECT n_users, total AS total_events, k AS k_users_80, "
    "ROUND(CAST(k AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS user_share, "
    "ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS event_share "
    "FROM r, t, ka WHERE rn = k"
)


# --- Entropy rate of the event-stream Markov chain -------------------------------------

_ENTR_SCALE = 100_000_000


def events_entropy_rate_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Entropy rate of the first-order event Markov chain** (Cover &
    Thomas §4.2, with the empirical transition counts as the chain):
    H = −Σ_ij (n_ij/N)·ln(n_ij/n_i) — how many nats of surprise the
    NEXT event carries given the current one. The sequence-level
    summary of `events_markov_transitions` (which emits the matrix;
    this scores its predictability), read against ln(k) (i.i.d.
    ceiling): efficiency near 1 means the stream is memoryless, near 0
    means paths are deterministic — the signal that decides whether
    sequence features are worth mining.

    Determinism: H factors as (Σ_i n_i·ln n_i − Σ_ij n_ij·ln n_ij)/N
    where both sums quantize per TERM to scaled int64 (the entropy-
    family device; row marginals deduplicate with a ROW_NUMBER == 1
    guard inside the ONE aggregate over the k²-cell frame). Exposed
    doubles are fixed-shape expressions off the exact sums, `dround` 6.

    Scale: one per-user ordering exchange (the `sessionize_batch`
    shape) carries the lag; everything after runs on the k²-cell
    transition frame."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"), "event_type"
    ).filter(F.col("prev_type").isNotNull())
    cells = pairs.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_row = Window.partitionBy("prev_type")
    w_all = Window.partitionBy()
    w_rn = Window.partitionBy("prev_type").orderBy("event_type")
    x = cells.select(
        "c",
        F.sum("c").over(w_row).alias("r"),
        F.sum("c").over(w_all).alias("n"),
        (F.row_number().over(w_rn) == 1).alias("first_of_row"),
    )
    ln = F.log
    agg = x.agg(
        F.max("n").alias("n"),
        F.sum(F.when(F.col("first_of_row"), 1).otherwise(0))
        .cast("long")
        .alias("n_states"),
        F.count(F.lit(1)).alias("n_cells"),
        dsum_scaled(
            F.col("c").cast("double") * ln(F.col("c").cast("double")),
            _ENTR_SCALE,
        ).alias("sc"),
        dsum_scaled(
            F.when(
                F.col("first_of_row"),
                F.col("r").cast("double") * ln(F.col("r").cast("double")),
            ).otherwise(F.lit(0.0)),
            _ENTR_SCALE,
        ).alias("sr"),
    )
    nd = F.col("n").cast("double")
    h = (
        F.col("sr").cast("double") - F.col("sc").cast("double")
    ) / _ENTR_SCALE / nd
    hmax = ln(F.col("n_states").cast("double"))
    return agg.filter(F.col("n") > 0).select(
        F.col("n").cast("long").alias("n_transitions"),
        "n_states",
        F.col("n_cells").cast("long").alias("n_cells"),
        dround(h, 6).alias("entropy_rate_nats"),
        dround(hmax, 6).alias("max_entropy_nats"),
        dround(F.try_divide(h, hmax), 6).alias("efficiency"),
    )


QUERIES["events_entropy_rate_markov"] = events_entropy_rate_markov

ORACLE["events_entropy_rate_markov"] = (
    "WITH p AS (SELECT LAG(event_type) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type, "
    "event_type FROM events), "
    "cells AS (SELECT prev_type, event_type, "
    "CAST(COUNT(*) AS BIGINT) AS c FROM p "
    "WHERE prev_type IS NOT NULL GROUP BY 1, 2), "
    "x AS (SELECT c, "
    "SUM(c) OVER (PARTITION BY prev_type) AS r, "
    "SUM(c) OVER () AS n, "
    "ROW_NUMBER() OVER (PARTITION BY prev_type ORDER BY event_type) = 1 "
    "AS first_of_row FROM cells), "
    "a AS (SELECT CAST(MAX(n) AS BIGINT) AS n, "
    "CAST(SUM(CASE WHEN first_of_row THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_states, "
    "CAST(COUNT(*) AS BIGINT) AS n_cells, "
    "CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) "
    f"* {_ENTR_SCALE}) AS BIGINT)) AS BIGINT) AS sc, "
    "CAST(SUM(CAST(ROUND(CASE WHEN first_of_row THEN "
    "CAST(r AS DOUBLE) * ln(CAST(r AS DOUBLE)) ELSE 0.0 END "
    f"* {_ENTR_SCALE}) AS BIGINT)) AS BIGINT) AS sr FROM x) "
    "SELECT n AS n_transitions, n_states, n_cells, "
    f"ROUND((CAST(sr AS DOUBLE) - CAST(sc AS DOUBLE)) / {_ENTR_SCALE} "
    "/ CAST(n AS DOUBLE), 6) AS entropy_rate_nats, "
    "ROUND(ln(CAST(n_states AS DOUBLE)), 6) AS max_entropy_nats, "
    f"ROUND(((CAST(sr AS DOUBLE) - CAST(sc AS DOUBLE)) / {_ENTR_SCALE} "
    "/ CAST(n AS DOUBLE)) / ln(CAST(n_states AS DOUBLE)), 6) "
    "AS efficiency "
    "FROM a WHERE n > 0"
)


# --- Daily bounce rate off the 30-minute sessionization --------------------------------


def events_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Daily bounce rate** off the shared 30-minute gap
    sessionization: share of sessions with exactly one event, per
    session-start day, beside the mean session depth — THE standard
    engagement KPI pair a web-analytics dashboard leads with, and the
    daily-grain consumer of `sessionize_batch`'s session frame
    (`events_dau_mau_stickiness` counts users; this scores their
    visits).

    Determinism: sessions come from the exact NTZ-interval gap logic
    (shared `_sessionize_events` — identical boundaries in both
    engines); counts are exact integers; the two exposed ratios are
    single divisions, `dround` 6.

    Scale: one window exchange by user (the sessionize shape), then
    one day-keyed map-side-combinable rollup."""
    from .custom_udf import _sessionize_events

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    s = _sessionize_events(ev)
    g = s.groupBy(
        F.date_trunc("day", "session_start").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.sum("n_events").cast("long").alias("n_events_total"),
    )
    return g.select(
        "day",
        "n_sessions",
        "n_bounces",
        dround(
            F.col("n_bounces").cast("double")
            / F.col("n_sessions").cast("double"),
            6,
        ).alias("bounce_rate"),
        dround(
            F.col("n_events_total").cast("double")
            / F.col("n_sessions").cast("double"),
            6,
        ).alias("avg_session_depth"),
    ).orderBy("day")


QUERIES["events_bounce_rate_daily"] = events_bounce_rate_daily

ORACLE["events_bounce_rate_daily"] = (
    "WITH e AS (SELECT user_id, ts, "
    "CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
    "OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) "
    ">= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM events), "
    "s AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id "
    "ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM e), "
    "sess AS (SELECT user_id, sid, MIN(ts) AS session_start, "
    "CAST(COUNT(*) AS BIGINT) AS n_events FROM s GROUP BY 1, 2), "
    "g AS (SELECT CAST(date_trunc('day', session_start) AS TIMESTAMP) "
    "AS day, CAST(COUNT(*) AS BIGINT) AS n_sessions, "
    "CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_bounces, "
    "CAST(SUM(n_events) AS BIGINT) AS n_events_total FROM sess "
    "GROUP BY 1) "
    "SELECT day, n_sessions, n_bounces, "
    "ROUND(CAST(n_bounces AS DOUBLE) / CAST(n_sessions AS DOUBLE), 6) "
    "AS bounce_rate, "
    "ROUND(CAST(n_events_total AS DOUBLE) "
    "/ CAST(n_sessions AS DOUBLE), 6) AS avg_session_depth "
    "FROM g ORDER BY day"
)


# --- Stationary distribution of the event Markov chain ---------------------------------

MKV_ITERS = 6
MKV_SCALE = 1_000_000_000_000.0  # probabilities as pico-units


def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Stationary distribution of the event Markov chain** — π with
    π = πP, found by ``MKV_ITERS`` unrolled power iterations from the
    uniform start (the long-run occupancy the chain converges to): the
    EQUILIBRIUM view completing the sequence-model family —
    `events_markov_transitions` emits the one-step dynamics,
    `events_entropy_rate_markov` their predictability, this their
    long-run destination — read against the EMPIRICAL state shares (a
    large stationary-vs-empirical delta is the non-ergodicity /
    drifting-usage signal).

    Contract: the state space is the types appearing as transition
    SOURCES (every type on this fixture); transitions into
    out-of-space states are dropped before row-normalization.

    Determinism: the transition matrix quantizes row-stochastically to
    scaled int64 cells; each π update is an exact DECIMAL(38,0) ≡
    HUGEINT dot product of quantized vectors followed by one
    normalize-and-quantize (both engines round the identical double),
    so every iteration is bit-stable at any partition count.

    Scale: ONE corpus exchange (the per-user lag); every iteration
    runs on the k-row / k²-cell frames."""
    from ..functions.numerics import _nearest_long_away, l1_quantize

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"), "event_type"
    ).filter(F.col("prev_type").isNotNull())
    # round 15: cells feeds states AND cells_in — checkpoint it or the
    # corpus lag-window pass runs once per reference (rule 5)
    cells = pairs.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    states = cells.select(
        F.col("prev_type").alias("state")
    ).distinct().localCheckpoint(eager=True)
    cells_in = cells.join(
        F.broadcast(states.select(F.col("state").alias("event_type"))),
        "event_type",
    ).localCheckpoint(eager=True)
    w_row = Window.partitionBy("prev_type")
    p = cells_in.select(
        "prev_type",
        "event_type",
        "n",
        _nearest_long_away(
            F.col("n").cast("double")
            / F.sum("n").over(w_row).cast("double")
            * F.lit(MKV_SCALE)
        ).alias("pq"),
    ).localCheckpoint(eager=True)
    kc = states.agg(F.count(F.lit(1)).alias("k"))
    pi = states.crossJoin(F.broadcast(kc)).select(
        "state",
        _nearest_long_away(
            F.lit(MKV_SCALE) / F.col("k").cast("double")
        ).alias("q"),
    )
    for _i in range(MKV_ITERS):
        pi = l1_quantize(
            p.join(pi, p["prev_type"] == pi["state"])
            .groupBy(F.col("event_type").alias("state"))
            .agg(
                F.sum(
                    F.col("q").cast("decimal(38,0)") * F.col("pq")
                ).alias("raw")
            ),
            "state",
            MKV_SCALE,
        )
    emp = cells_in.groupBy(F.col("event_type").alias("state")).agg(
        F.sum("n").cast("long").alias("n_in")
    )
    w_all = Window.partitionBy()
    emp2 = emp.select(
        "state", "n_in", F.sum("n_in").over(w_all).alias("n_tot")
    )
    j = pi.join(emp2, "state")
    stat = F.col("q").cast("double") / F.lit(MKV_SCALE)
    empd = F.col("n_in").cast("double") / F.col("n_tot").cast("double")
    return j.select(
        F.col("state").alias("event_type"),
        "n_in",
        dround(stat, 6).alias("stationary_prob"),
        dround(empd, 6).alias("empirical_share"),
        dround(stat - empd, 6).alias("delta"),
    ).orderBy("event_type")


QUERIES["events_markov_stationary"] = events_markov_stationary


def _markov_stationary_oracle_sql() -> str:
    s = f"{MKV_SCALE:.1f}"
    sql = (
        "WITH pr AS (SELECT LAG(event_type) OVER ("
        "PARTITION BY user_id ORDER BY ts, event_id) AS prev_type, "
        "event_type FROM events), "
        "cells AS (SELECT prev_type, event_type, "
        "CAST(COUNT(*) AS BIGINT) AS n FROM pr "
        "WHERE prev_type IS NOT NULL GROUP BY 1, 2), "
        "states AS (SELECT DISTINCT prev_type AS state FROM cells), "
        "ci AS MATERIALIZED (SELECT c.* FROM cells c "
        "JOIN states s ON s.state = c.event_type), "
        "p AS MATERIALIZED (SELECT prev_type, event_type, n, "
        "CAST(ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER ("
        f"PARTITION BY prev_type) AS DOUBLE) * {s}) AS BIGINT) AS pq "
        "FROM ci), "
        "kc AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states), "
        "pi0 AS (SELECT state, "
        f"CAST(ROUND({s} / CAST(k AS DOUBLE)) AS BIGINT) AS piq "
        "FROM states, kc)"
    )
    prev = "pi0"
    for i in range(1, MKV_ITERS + 1):
        sql += (
            f", r{i} AS MATERIALIZED (SELECT p.event_type AS state, "
            "SUM(CAST(piq AS HUGEINT) * pq) AS raw "
            f"FROM p JOIN {prev} ON {prev}.state = p.prev_type "
            "GROUP BY 1), "
            f"t{i} AS (SELECT SUM(raw) AS t FROM r{i}), "
            f"pi{i} AS (SELECT state, "
            "CAST(ROUND(CAST(raw AS DOUBLE) / CAST(t AS DOUBLE) "
            f"* {s}) AS BIGINT) AS piq FROM r{i}, t{i})"
        )
        prev = f"pi{i}"
    sql += (
        ", emp AS (SELECT event_type AS state, "
        "CAST(SUM(n) AS BIGINT) AS n_in FROM ci GROUP BY 1), "
        "emp2 AS (SELECT state, n_in, SUM(n_in) OVER () AS n_tot "
        "FROM emp) "
        "SELECT state AS event_type, n_in, "
        f"ROUND(CAST(piq AS DOUBLE) / {s}, 6) AS stationary_prob, "
        "ROUND(CAST(n_in AS DOUBLE) / CAST(n_tot AS DOUBLE), 6) "
        "AS empirical_share, "
        f"ROUND(CAST(piq AS DOUBLE) / {s} "
        "- CAST(n_in AS DOUBLE) / CAST(n_tot AS DOUBLE), 6) AS delta "
        f"FROM {prev} JOIN emp2 USING (state) ORDER BY event_type"
    )
    return sql


ORACLE["events_markov_stationary"] = _markov_stationary_oracle_sql()


# --- Conversion-latency quantiles (view -> purchase) ------------------------------------


def events_conversion_latency_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**View→purchase conversion latency, quantile profile per
    month**: for every purchase, the gap to the SAME user's most
    recent prior view (the CEP anchor device carried by one
    ignore-nulls window), summarized as p50/p90/mean hours per
    purchase month — the latency DISTRIBUTION view that
    `events_survival_km` (which censors) and `events_pattern_match`
    (which lists matches) both imply but don't tabulate; it is the
    marketing dashboard's "time-to-convert" panel.

    Determinism: gaps are exact epoch-microsecond int64 differences
    (pure interval arithmetic — rule 6a); the quantiles are Spark
    ``percentile`` ≡ DuckDB ``quantile_cont`` on those exact ints (the
    `agg_percentiles` equivalence); mean divides exact sums. All
    exposed hour values are fixed-shape doubles, `dround` 6.

    Scale: ONE exchange by user carries the anchor window; the
    month rollup is map-side combinable."""
    from ..functions.timeparts import epoch_micros_from_ntz

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = epoch_micros_from_ntz(F.col("ts"))
    anchored = ev.select(
        "ts",
        "event_type",
        us.alias("ts_us"),
        F.last(
            F.when(F.col("event_type") == "view", us), ignorenulls=True
        )
        .over(w)
        .alias("view_us"),
    )
    gaps = anchored.filter(
        (F.col("event_type") == "purchase") & F.col("view_us").isNotNull()
    ).select(
        F.date_trunc("month", "ts").alias("mon"),
        (F.col("ts_us") - F.col("view_us")).alias("gap_us"),
    )
    h = F.lit(3_600_000_000.0)
    g = gaps.groupBy("mon").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.percentile("gap_us", F.lit(0.5)).alias("p50_us"),
        F.percentile("gap_us", F.lit(0.9)).alias("p90_us"),
        F.sum("gap_us").cast("long").alias("s_us"),
    )
    return g.select(
        "mon",
        "n_conversions",
        dround(F.col("p50_us") / h, 6).alias("p50_hours"),
        dround(F.col("p90_us") / h, 6).alias("p90_hours"),
        dround(
            F.col("s_us").cast("double")
            / F.col("n_conversions").cast("double")
            / h,
            6,
        ).alias("mean_hours"),
    ).orderBy("mon")


QUERIES["events_conversion_latency_quantiles"] = (
    events_conversion_latency_quantiles
)

ORACLE["events_conversion_latency_quantiles"] = (
    "WITH a AS (SELECT ts, event_type, epoch_us(ts) AS ts_us, "
    "LAST_VALUE(CASE WHEN event_type = 'view' THEN epoch_us(ts) END "
    "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_us "
    "FROM events), "
    "g AS (SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS mon, "
    "CAST(ts_us - view_us AS BIGINT) AS gap_us FROM a "
    "WHERE event_type = 'purchase' AND view_us IS NOT NULL), "
    "q AS (SELECT mon, CAST(COUNT(*) AS BIGINT) AS n_conversions, "
    "quantile_cont(gap_us, 0.5) AS p50_us, "
    "quantile_cont(gap_us, 0.9) AS p90_us, "
    "CAST(SUM(gap_us) AS BIGINT) AS s_us FROM g GROUP BY 1) "
    "SELECT mon, n_conversions, "
    "ROUND(p50_us / 3600000000.0, 6) AS p50_hours, "
    "ROUND(p90_us / 3600000000.0, 6) AS p90_hours, "
    "ROUND(CAST(s_us AS DOUBLE) / CAST(n_conversions AS DOUBLE) "
    "/ 3600000000.0, 6) AS mean_hours "
    "FROM q ORDER BY mon"
)


# --- Daily new vs returning active users --------------------------------------------------


def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Daily new-vs-returning active users** — each day's DAU split
    by whether the user's FIRST-ever event falls on that day: the
    growth-accounting table every consumer dashboard opens with
    (acquisition vs retention composition), the daily-grain sibling of
    `events_dau_mau_stickiness` and the descriptive layer under
    `agg_mcnemar_yearly_activity`'s churn test.

    Determinism: the first-seen day is a per-user window MIN over the
    distinct (user, day) frame (no join back to the corpus — rule 5);
    all counts are exact integers; the share is one division,
    `dround` 6.

    Scale: one distinct aggregate, one user-keyed window over the
    user×day frame, one day rollup."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    ud = ev.distinct()
    w_u = Window.partitionBy("user_id")
    t = ud.select(
        "day",
        (F.col("day") == F.min("day").over(w_u)).alias("is_new"),
    )
    g = t.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
    )
    return g.select(
        "day",
        "dau",
        "new_users",
        (F.col("dau") - F.col("new_users")).alias("returning_users"),
        dround(
            F.col("new_users").cast("double") / F.col("dau").cast("double"),
            6,
        ).alias("pct_new"),
    ).orderBy("day")


QUERIES["events_new_vs_returning"] = events_new_vs_returning

ORACLE["events_new_vs_returning"] = (
    "WITH ud AS (SELECT DISTINCT user_id, "
    "CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events), "
    "t AS (SELECT day, "
    "day = MIN(day) OVER (PARTITION BY user_id) AS is_new FROM ud), "
    "g AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau, "
    "CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) "
    "AS new_users FROM t GROUP BY 1) "
    "SELECT day, dau, new_users, dau - new_users AS returning_users, "
    "ROUND(CAST(new_users AS DOUBLE) / CAST(dau AS DOUBLE), 6) "
    "AS pct_new "
    "FROM g ORDER BY day"
)


# --- Sessions-per-user distribution off the shared sessionization ---------------------------


def events_sessions_per_user_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Sessions-per-user distribution**: how many users had exactly
    k sessions (30-minute gap sessionization) — the engagement-depth
    histogram that separates one-shot visitors from habitual users
    (the user-grain companion of `events_bounce_rate_daily`'s
    session-grain view; its shape is what DAU/MAU's single stickiness
    number compresses away).

    Determinism: sessions come from the shared exact NTZ-interval gap
    logic; all counts are exact integers; shares are single
    divisions, `dround` 6.

    Scale: one window exchange by user (the sessionize shape), one
    per-user count, one ~max-k-row histogram rollup."""
    from .custom_udf import _sessionize_events

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    s = _sessionize_events(ev)
    per_u = s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    w_all = Window.partitionBy()
    g = per_u.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    t = g.select(
        F.col("k").alias("n_sessions"),
        "n_users",
        F.sum("n_users").over(w_all).alias("n_total"),
    )
    return t.select(
        "n_sessions",
        "n_users",
        dround(
            F.col("n_users").cast("double") / F.col("n_total").cast("double"),
            6,
        ).alias("share_of_users"),
    ).orderBy("n_sessions")


QUERIES["events_sessions_per_user_hist"] = events_sessions_per_user_hist

ORACLE["events_sessions_per_user_hist"] = (
    "WITH e AS (SELECT user_id, ts, "
    "CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
    "OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) "
    ">= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM events), "
    "s AS (SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id "
    "ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM e), "
    "pu AS (SELECT user_id, CAST(COUNT(DISTINCT sid) AS BIGINT) AS k "
    "FROM s GROUP BY 1), "
    "g AS (SELECT k AS n_sessions, CAST(COUNT(*) AS BIGINT) AS n_users "
    "FROM pu GROUP BY 1), "
    "t AS (SELECT n_sessions, n_users, SUM(n_users) OVER () AS n_total "
    "FROM g) "
    "SELECT n_sessions, n_users, "
    "ROUND(CAST(n_users AS DOUBLE) / CAST(n_total AS DOUBLE), 6) "
    "AS share_of_users "
    "FROM t ORDER BY n_sessions"
)


# --- Weekday vs weekend activity split --------------------------------------------------------


def events_weekday_weekend_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Weekday vs weekend split** of event activity and value per
    event type — the calendar-rhythm KPI beside
    `events_hourly_profile`'s diurnal view (consumer products are
    weekend-heavy, B2B tools weekday-heavy; the ratio is the segment
    fingerprint).

    Determinism: day-of-week comes from the NTZ WALL clock (pure
    calendar arithmetic, no session-timezone hop — rule 6a), stated as
    Sunday=0 in both engines (Spark ``dayofweek`` is 1-based
    Sunday=1 → shift by one; DuckDB ``dayofweek`` is already
    Sunday=0); counts and 1e4-scaled value sums are exact; shares and
    per-event means are fixed-shape divisions, `dround` 6/4.

    Scale: one map-side-combinable conditional aggregate per event
    type."""
    ev = read_table(spark, sf_dir, "events")
    wknd = (F.dayofweek("ts") - F.lit(1)).isin(0, 6)
    g = ev.groupBy(F.col("event_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(wknd, 1).otherwise(0)).cast("long").alias("n_wknd"),
        dsum_scaled(F.when(wknd, F.col("value")).otherwise(F.lit(0.0)))
        .alias("v_wknd"),
        dsum_scaled("value").alias("v_all"),
    )
    return g.select(
        "event_type",
        "n_events",
        F.col("n_wknd").alias("n_weekend"),
        (F.col("n_events") - F.col("n_wknd")).alias("n_weekday"),
        dround(
            F.col("n_wknd").cast("double")
            / F.col("n_events").cast("double"),
            6,
        ).alias("weekend_share"),
        dround(
            F.col("v_wknd").cast("double")
            / 10_000.0
            / F.col("n_wknd").cast("double"),
            4,
        ).alias("weekend_mean_value"),
        dround(
            (F.col("v_all") - F.col("v_wknd")).cast("double")
            / 10_000.0
            / (F.col("n_events") - F.col("n_wknd")).cast("double"),
            4,
        ).alias("weekday_mean_value"),
    ).filter(
        (F.col("n_weekend") > 0) & (F.col("n_weekday") > 0)
    ).orderBy("event_type")


QUERIES["events_weekday_weekend_split"] = events_weekday_weekend_split

ORACLE["events_weekday_weekend_split"] = (
    "WITH g AS (SELECT event_type, "
    "CAST(COUNT(*) AS BIGINT) AS n_events, "
    "CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_wknd, "
    "CAST(SUM(CAST(ROUND(CASE WHEN dayofweek(ts) IN (0, 6) "
    "THEN value ELSE 0.0 END * 10000) AS BIGINT)) AS BIGINT) AS v_wknd, "
    "CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) "
    "AS v_all FROM events GROUP BY 1) "
    "SELECT event_type, n_events, n_wknd AS n_weekend, "
    "n_events - n_wknd AS n_weekday, "
    "ROUND(CAST(n_wknd AS DOUBLE) / CAST(n_events AS DOUBLE), 6) "
    "AS weekend_share, "
    "ROUND(CAST(v_wknd AS DOUBLE) / 10000.0 / CAST(n_wknd AS DOUBLE), "
    "4) AS weekend_mean_value, "
    "ROUND(CAST(v_all - v_wknd AS DOUBLE) / 10000.0 "
    "/ CAST(n_events - n_wknd AS DOUBLE), 4) AS weekday_mean_value "
    "FROM g WHERE n_wknd > 0 AND n_events - n_wknd > 0 "
    "ORDER BY event_type"
)
