"""Remaining custom-Python API surfaces (SURVEY §2.9 extensions):

- ``applyInPandas`` grouped-map: per-group table → table transforms where
  the function needs the whole group in memory (here: min-max
  normalization within year). Arrow-batched; one shuffle on the group key.
- Python UDTF (PySpark 4): a table function callable from SQL — the
  row → table expansion primitive (here: a month spine generator).

Both have exact relational oracles, so even the Python-UDF surfaces stay
hash-checked.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numerics import descale
from ..functions.plan_cache import plan_memo
from ..functions.timeparts import monthly_partials, year_of
from ..io import read_table


def _normalize_group(pdf: pd.DataFrame) -> pd.DataFrame:
    lo, hi = pdf["o_totalprice"].min(), pdf["o_totalprice"].max()
    span = hi - lo
    out = pdf[["o_orderkey", "year"]].copy()
    if span > 0:
        out["norm_price"] = ((pdf["o_totalprice"] - lo) / span).round(6)
    else:
        # constant-price group (e.g. a single-order year): span is 0 and
        # every value normalizes to 0.0 — keep it a Series, a scalar here
        # crashes on .round
        out["norm_price"] = 0.0
    return out


def grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: min-max normalize order value within
    each year. The whole group arrives as one pandas frame (vectorized);
    physically a hash shuffle on the key then Arrow batches per group —
    at scale, group size (one year of orders) bounds task memory, and a
    salting pre-split applies if a group outgrows it."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", year_of("o_orderdate").alias("year"), "o_totalprice"
    )
    return orders.groupBy("year").applyInPandas(
        _normalize_group, schema="o_orderkey long, year int, norm_price double"
    )


def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality profile of the fact table: per-column null
    counts, distinct counts, and range stats — the standard pre-ingest
    gate of a training-data pipeline. One aggregate, no per-column scans."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("null_keys"),
        F.sum(F.col("o_orderdate").isNull().cast("long")).alias("null_dates"),
        F.countDistinct("o_orderkey").alias("distinct_keys"),
        F.countDistinct("o_orderstatus").alias("distinct_status"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


@plan_memo
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): new session when the gap
    to the previous event reaches 30 minutes; session id = running count
    of session starts. The batch twin of ``stream_session_window`` —
    identical session boundaries, pure windows (lag → flag → cumsum →
    aggregate), two window passes over one shuffle by user."""
    # project to the two columns the session logic needs BEFORE the
    # window shuffle — every extra column rides the exchange by user
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    return _sessionize_events(ev)


def _sessionize_events(ev: DataFrame) -> DataFrame:
    """Shared gaps-and-islands session logic off a (user_id, ts) frame —
    the physical input layout (flat scan vs user-bucketed at-rest table,
    `layout.sessionize_batch_clustered`) is the callers' only
    difference, so one definition serves both and they share one
    oracle."""
    from pyspark.sql.window import Window

    # Boundary-row algebra instead of lag -> flag -> cumsum -> groupBy
    # (round 14, ~20% off the 30x wall time: 0.70 -> 0.56 s): the cumsum
    # window forced a SECOND full-partition WindowExec pass over every
    # event because sum(new_s) depends on the first window's output.
    # Here ONE WindowExec hosts four independent frames over the same
    # (user_id, ts) sort — row_number, lag, and the per-user count/max
    # (unbounded frames are computed once per user, not per row) — then
    # everything after the boundary filter runs over ~3% of the rows
    # (one session-start row per session) with NO re-sort (the filter
    # preserves the window's partitioning+ordering) and NO hash
    # aggregate at all:
    #   session_end  = ts of the row just before the NEXT boundary
    #                  (its lag), or the user's last ts for the tail
    #   n_events     = next boundary's row_number - mine (tail: total+1)
    # NTZ-minus-NTZ is an exact int64-microsecond INTERVAL — no
    # session-tz hop (CLAUDE.md 6a), no FP; the DuckDB oracle states the
    # same interval compare. Ties on ts are safe: boundaries depend only
    # on ts VALUES, and rn differences count rows between boundaries
    # regardless of tie order.
    w_user = Window.partitionBy("user_id").orderBy("ts")
    w_all = w_user.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = ev.select(
        "user_id",
        "ts",
        F.row_number().over(w_user).alias("rn"),
        F.lag("ts").over(w_user).alias("prev_ts"),
        F.count(F.lit(1)).over(w_all).alias("total"),
        F.max("ts").over(w_all).alias("last_ts"),
    )
    gap = F.col("ts") - F.col("prev_ts")
    bounds = base.filter(
        F.col("prev_ts").isNull() | (gap >= F.expr("INTERVAL '30' MINUTE"))
    )
    return bounds.select(
        "user_id",
        F.col("ts").alias("session_start"),
        F.coalesce(F.lead("prev_ts").over(w_user), F.col("last_ts")).alias(
            "session_end"
        ),
        (
            F.coalesce(F.lead("rn").over(w_user), F.col("total") + F.lit(1))
            - F.col("rn")
        ).alias("n_events"),
    )


def cogroup_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join a second way: ``cogroup().applyInPandas`` with
    ``pd.merge_asof`` per user — the remaining Pandas-API surface (two
    grouped relations co-partitioned into one Arrow-batched function).
    Same semantics as ``joins.join_range_asof`` (most recent order
    at-or-before each event), same oracle; different physical path: one
    co-shuffle of both sides by user, then a sorted merge inside each
    group instead of a window over the union timeline. The scalable
    choice between them is data-shape-dependent (cogroup wins when per-key
    order lists are long and events sparse; the union-timeline window wins
    when Python batch overhead dominates)."""
    import pandas as pd

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("order_ts"),
    )

    def asof(ev_pdf: pd.DataFrame, ord_pdf: pd.DataFrame) -> pd.DataFrame:
        if ev_pdf.empty:
            # explicit dtypes: an empty frame defaults every column to
            # float64, and Arrow refuses double -> timestamp
            return pd.DataFrame(
                {
                    "event_id": pd.Series([], dtype="int64"),
                    "user_id": pd.Series([], dtype="int64"),
                    "last_order_ts": pd.Series([], dtype="datetime64[us]"),
                }
            )
        ev_s = ev_pdf.sort_values("ts").copy()
        ev_s["ts"] = ev_s["ts"].astype("datetime64[us]")
        od = ord_pdf.sort_values("order_ts").copy()
        od["order_ts"] = od["order_ts"].astype("datetime64[us]")
        merged = pd.merge_asof(
            ev_s,
            od[["order_ts"]],
            left_on="ts",
            right_on="order_ts",
            direction="backward",  # at-or-before, like the window form
        )
        return pd.DataFrame(
            {
                "event_id": merged["event_id"],
                "user_id": merged["user_id"],
                "last_order_ts": merged["order_ts"],
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInPandas(
            asof,
            schema="event_id long, user_id long, last_order_ts timestamp_ntz",
        )
    )


def udf_decade_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one UDF — the decade lambda
    (``dashboard_nfp.py:300``: ``lambda y: f"{int(y // 10) * 10}s"``) — as
    a **scalar pandas_udf** (Arrow-vectorized batches, numpy math inside),
    the surface SURVEY §2.9 commits to demonstrating alongside the
    preferred builtin-expression form (``olap.rollup_decade_avg``). The
    oracle is the builtin expression, so this also *proves* the UDF and
    the Catalyst form agree row-for-row."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def decade_label(year: pd.Series) -> pd.Series:
        return ((year // 10) * 10).astype("int64").astype("str") + "s"

    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        decade_label(F.year("o_orderdate")).alias("decade"),
    )


def udtf_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (PySpark 4): a SQL-callable table function generating a
    month spine — the row → table expansion primitive. Registered and
    invoked through ``spark.sql`` to exercise the real UDTF surface."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="month_start timestamp, month_index int")
    class MonthSpine:
        def eval(self, start_year: int, n_months: int):
            import datetime as dt

            for i in range(n_months):
                y, m = divmod(i, 12)
                yield dt.datetime(start_year + y, m + 1, 1), i


    spark.udtf.register("month_spine", MonthSpine)
    return spark.sql("SELECT * FROM month_spine(1995, 24)")


def arrow_map_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the zero-conversion Python batch path: the task
    hands each Arrow ``RecordBatch`` straight to Python and takes Arrow
    back, skipping the pandas materialization ``mapInPandas`` pays. For
    string/binary-heavy batches (this documents scan; the multimodal
    binary path) that conversion is the dominant Python-side cost, so
    this is the right surface for high-throughput byte-level transforms.
    All statistics here are ``pyarrow.compute`` kernels (C++,
    vectorized); the op stays a narrow map — no shuffle at any scale —
    and column pruning still reaches the scan (only doc_id/text are
    read). Exact relational oracle, so the Arrow path is hash-checked
    like every builtin operator.

    vs reference: the reference's only batch transform is driver-side
    pandas (`etl.py:31-41`); this is the engine-side equivalent with
    per-partition Arrow batches."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches):
        for b in batches:
            text = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(pc.utf8_length(text), pa.int32()),
                    pc.cast(
                        pc.add(pc.count_substring(text, " "), 1), pa.int32()
                    ),
                    pc.utf8_slice_codeunits(text, 0, 8),
                ],
                ["doc_id", "n_chars_arrow", "n_ws_tokens", "head8"],
            )

    return docs.mapInArrow(
        stats, "doc_id long, n_chars_arrow int, n_ws_tokens int, head8 string"
    )


def arrow_grouped_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` grouped-map (PySpark 4): the whole group arrives
    as ONE Arrow table — the Arrow-native sibling of
    :func:`grouped_map_normalize`'s pandas path. Physically a hash
    shuffle on the group key, then per-group C++ compute kernels with no
    pandas detour. Group size (docs per source, ~corpus/n_sources)
    bounds task memory at scale; a salting pre-split applies beyond
    that. Exact GROUP BY oracle."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = read_table(spark, sf_dir, "documents").select("source", "n_chars")

    def per_source(table):
        return pa.table(
            {
                "source": [table.column("source")[0].as_py()],
                "n_docs": pa.array([table.num_rows], pa.int64()),
                "total_chars": pa.array(
                    [pc.sum(table.column("n_chars")).as_py()], pa.int64()
                ),
                "max_chars": pa.array(
                    [pc.max(table.column("n_chars")).as_py()], pa.int64()
                ),
            }
        )

    return docs.groupBy("source").applyInArrow(
        per_source,
        schema="source string, n_docs long, total_chars long, max_chars long",
    )


QUERIES = {
    "grouped_map_normalize": grouped_map_normalize,
    "arrow_map_doc_stats": arrow_map_doc_stats,
    "arrow_grouped_source_stats": arrow_grouped_source_stats,
    "dq_checks": dq_checks,
    "sessionize_batch": sessionize_batch,
    "cogroup_asof_pandas": cogroup_asof_pandas,
    "udf_decade_scalar_pandas": udf_decade_scalar_pandas,
    "udtf_month_spine": udtf_month_spine,
}

ORACLE = {
    "udtf_table_arg_year_profile": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "COUNT(*) AS n_orders, MIN(o_orderkey) AS min_key, "
        "MAX(o_orderkey) AS max_key, "
        "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
        "AS total_cents FROM orders GROUP BY 1 ORDER BY 1"
    ),
    "arrow_map_doc_stats": (
        "SELECT doc_id, CAST(length(text) AS INT) AS n_chars_arrow, "
        "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT) "
        "AS n_ws_tokens, "
        "substring(text, 1, 8) AS head8 FROM documents"
    ),
    "arrow_grouped_source_stats": (
        "SELECT source, COUNT(*) AS n_docs, "
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
        "CAST(MAX(n_chars) AS BIGINT) AS max_chars "
        "FROM documents GROUP BY 1"
    ),
    "udf_decade_scalar_pandas": (
        "SELECT o_orderkey, "
        "CAST(CAST(FLOOR(year(o_orderdate) / 10) * 10 AS BIGINT) AS VARCHAR) "
        "|| 's' AS decade FROM orders"
    ),
    "cogroup_asof_pandas": (
        "SELECT e.event_id, e.user_id, MAX(o.o_orderdate) AS last_order_ts "
        "FROM events e LEFT JOIN orders o "
        "ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts "
        "GROUP BY 1, 2"
    ),
    "grouped_map_normalize": (
        "WITH b AS (SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS year, "
        "o_totalprice, MIN(o_totalprice) OVER (PARTITION BY year(o_orderdate)) "
        "AS lo, MAX(o_totalprice) OVER (PARTITION BY year(o_orderdate)) AS hi "
        "FROM orders) "
        "SELECT o_orderkey, year, "
        "ROUND(CASE WHEN hi > lo THEN (o_totalprice - lo) / (hi - lo) "
        "ELSE 0.0 END, 6) AS norm_price FROM b"
    ),
    "dq_checks": (
        "SELECT COUNT(*) AS n_rows, "
        "CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS null_keys, "
        "CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS null_dates, "
        "COUNT(DISTINCT o_orderkey) AS distinct_keys, "
        "COUNT(DISTINCT o_orderstatus) AS distinct_status, "
        "ROUND(MIN(o_totalprice), 4) AS min_price, "
        "ROUND(MAX(o_totalprice), 4) AS max_price, "
        "MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date "
        "FROM orders"
    ),
    "sessionize_batch": (
        "WITH e AS (SELECT user_id, ts, "
        "CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
        "OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) "
        ">= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM events), "
        "s AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id "
        "ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM e) "
        "SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end, "
        "COUNT(*) AS n_events FROM s GROUP BY user_id, sid"
    ),
    "udtf_month_spine": (
        "SELECT TIMESTAMP '1995-01-01' + CAST(range AS INT) * INTERVAL 1 MONTH "
        "AS month_start, CAST(range AS INT) AS month_index FROM range(24)"
    ),
}


def udtf_table_arg_year_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a **TABLE argument** (polymorphic table function,
    PySpark 4): ``year_profile(TABLE(...) PARTITION BY year)`` — the
    engine hash-partitions the input and streams each partition's rows
    through one UDTF instance (``eval`` per row, ``terminate`` emits the
    partition's result). This is the API for custom per-group streaming
    logic that needs neither pandas frames (``applyInPandas``) nor
    whole-group materialization — state is O(1) per partition here.

    The profile itself (count / key span / scaled-int total) is chosen
    to be an exact GROUP BY twin, so the TABLE-arg plumbing —
    partitioning, per-partition instantiation, terminate emission — is
    what the oracle hash-checks.

    vs reference: the reference's per-group logic is pandas
    ``groupby().agg`` on the driver (``dashboard_nfp.py:246-257``)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="year int, n_orders bigint, min_key bigint, "
                     "max_key bigint, total_cents bigint")
    class YearProfile:
        def __init__(self):
            self._year = None
            self._n = 0
            self._min = None
            self._max = None
            self._cents = 0

        def eval(self, row):
            self._year = row["year"]
            self._n += 1
            k = row["o_orderkey"]
            self._min = k if self._min is None else min(self._min, k)
            self._max = k if self._max is None else max(self._max, k)
            self._cents += row["cents"]

        def terminate(self):
            if self._n:
                yield self._year, self._n, self._min, self._max, self._cents

    spark.udtf.register("year_profile", YearProfile)
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_udtf_in")
    return spark.sql(
        "SELECT * FROM year_profile(TABLE(SELECT "
        "CAST(year(o_orderdate) AS INT) AS year, o_orderkey, "
        "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents "
        "FROM orders_udtf_in) PARTITION BY year) ORDER BY year"
    )


QUERIES["udtf_table_arg_year_profile"] = udtf_table_arg_year_profile


# --- Per-priority monthly recurrences via grouped-map ------------------------

# leading columns of every per-series recurrence output
_SERIES = "priority string, mon timestamp, revenue double, "


def _per_priority_map(
    spark: SparkSession,
    sf_dir: str,
    fn,
    schema: str,
    order: tuple[str, ...] = ("priority", "mon"),
) -> DataFrame:
    """Monthly per-priority revenue ``(priority, mon, revenue)`` at 4 dp,
    then ``groupBy("priority").applyInPandas(fn, schema)``: one shuffle
    on the series key, each series a single Arrow batch — series count
    scales out, series length stays bounded (monthly grain). The
    sequential recurrences below have no exact closed window form, so
    they run per series in pandas; their DuckDB twins replay the same
    recurrence as recursive CTEs."""
    monthly = monthly_partials(
        read_table(spark, sf_dir, "orders"),
        F.col("o_orderpriority").alias("priority"),
    ).select(
        "priority",
        F.col("ms").alias("mon"),
        descale("total_scaled").alias("revenue"),
    )
    return (
        monthly.groupBy("priority")
        .applyInPandas(fn, schema=schema)
        .orderBy(*order)
    )


# --- EWMA smoothing via grouped-map recurrence -------------------------------

EWMA_ALPHA = 0.5  # exact binary fraction: every blend step is one IEEE
# multiply-by-0.5 per operand + one add — bit-identical between python
# floats and DuckDB doubles, so the recurrence itself is oracle-exact


def _ewma_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("mon").reset_index(drop=True)
    s = None
    out = []
    for x in pdf["revenue"]:
        s = x if s is None else EWMA_ALPHA * x + (1.0 - EWMA_ALPHA) * s
        # expose at 4dp with half-away-from-zero (numerics.dround /
        # DuckDB ROUND convention; python round() is banker's)
        v = abs(s) * 10000.0
        out.append(
            (1.0 if s >= 0 else -1.0) * (int(v + 0.5) // 1) / 10000.0
        )
    pdf["ewma"] = out
    return pdf


def timeseries_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — exponentially weighted moving average per series
    (Holt's level-only recurrence, the standard streaming smoother):
    ``s_t = α·x_t + (1−α)·s_{t−1}``, seeded with the first observation,
    over monthly per-priority revenue. A sequential recurrence has no
    closed window form that is numerically exact (the 2^t rescaling
    trick loses low bits across 80+ months), so the per-series loop runs
    in a grouped-map ``applyInPandas`` — one shuffle on the series key,
    each series a single Arrow batch; series count scales out, series
    length stays bounded (monthly grain). The DuckDB oracle replays the
    SAME recurrence as a recursive CTE step-indexed per series — with
    ``α = 0.5`` every blend is exact-IEEE-reproducible in both engines,
    so the result is fully hash-checked (no tolerance).
    """
    return _per_priority_map(
        spark, sf_dir, _ewma_group, _SERIES + "ewma double"
    )


QUERIES["timeseries_ewma_smooth"] = timeseries_ewma_smooth

ORACLE["timeseries_ewma_smooth"] = (
    "WITH RECURSIVE m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) "
    "AS DOUBLE) / 10000.0, 4) AS revenue "
    "FROM orders GROUP BY 1, 2), "
    "idx AS (SELECT priority, mon, revenue, "
    "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) AS i "
    "FROM m), "
    "rec(priority, mon, revenue, i, s) AS ("
    "SELECT priority, mon, revenue, i, revenue FROM idx WHERE i = 1 "
    "UNION ALL "
    "SELECT idx.priority, idx.mon, idx.revenue, idx.i, "
    f"{EWMA_ALPHA} * idx.revenue + {1.0 - EWMA_ALPHA} * rec.s "
    "FROM idx JOIN rec ON idx.priority = rec.priority "
    "AND idx.i = rec.i + 1) "
    "SELECT priority, mon, revenue, "
    "SIGN(s) * (FLOOR(ABS(s) * 10000.0 + 0.5)) / 10000.0 AS ewma "
    "FROM rec ORDER BY 1, 2"
)


# --- Holt linear-trend smoothing via grouped-map recurrence ------------------

HOLT_ALPHA = 0.5  # both exact binary fractions: every blend step is a
HOLT_BETA = 0.5  # halving + an add — bit-identical python/DuckDB IEEE


def _holt_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("mon").reset_index(drop=True)
    lvl = trend = None
    out = []
    for x in pdf["revenue"]:
        if lvl is None:
            lvl, trend = x, 0.0
        else:
            prev = lvl
            lvl = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * (lvl + trend)
            trend = HOLT_BETA * (lvl - prev) + (1.0 - HOLT_BETA) * trend
        out.append((lvl, trend, lvl + trend))

    def r4(s: float) -> float:
        v = abs(s) * 10000.0
        return (1.0 if s >= 0 else -1.0) * (int(v + 0.5) // 1) / 10000.0

    pdf["level"] = [r4(a) for a, _, _ in out]
    pdf["trend"] = [r4(b) for _, b, _ in out]
    pdf["forecast"] = [r4(f) for _, _, f in out]
    return pdf


def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **Holt's linear-trend (double exponential) smoothing**
    (Holt 1957; Hyndman & Athanasopoulos FPP §8.2) per series:
    ``l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1})``,
    ``b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}``, seeded ``l_1 = x_1,
    b_1 = 0``, one-step forecast ``l_t + b_t`` — the trend-aware
    upgrade of `timeseries_ewma_smooth`'s level-only recurrence, and
    like it sequential with no numerically exact closed window form,
    so the per-series loop runs in grouped-map ``applyInPandas`` (one
    shuffle on the series key, each series one Arrow batch; series
    count scales out, monthly length stays bounded). With
    ``α = β = ½`` every update is halvings + adds/subtracts — each a
    single IEEE op both engines perform identically — so the DuckDB
    recursive-CTE replay of the SAME 2-state recurrence hash-matches
    with zero tolerance.
    """
    return _per_priority_map(
        spark,
        sf_dir,
        _holt_group,
        _SERIES + "level double, trend double, forecast double",
    )


QUERIES["timeseries_holt_linear"] = timeseries_holt_linear

_HOLT_R4 = "SIGN({0}) * (FLOOR(ABS({0}) * 10000.0 + 0.5)) / 10000.0"

ORACLE["timeseries_holt_linear"] = (
    "WITH RECURSIVE m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) "
    "AS DOUBLE) / 10000.0, 4) AS revenue "
    "FROM orders GROUP BY 1, 2), "
    "idx AS (SELECT priority, mon, revenue, "
    "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) AS i "
    "FROM m), "
    # Anchor types pin the recursive column types in DuckDB: a bare 0.0
    # literal is DECIMAL(2,1) and the recursive branch's double blend then
    # fails to cast back (round-10 verdict) — CAST both state seeds to
    # DOUBLE, and the α/β literals too so every blend step is pure IEEE.
    "rec(priority, mon, revenue, i, l, b) AS ("
    "SELECT priority, mon, revenue, i, CAST(revenue AS DOUBLE), "
    "CAST(0.0 AS DOUBLE) FROM idx WHERE i = 1 "
    "UNION ALL "
    "SELECT idx.priority, idx.mon, idx.revenue, idx.i, "
    f"CAST({HOLT_ALPHA} AS DOUBLE) * idx.revenue "
    f"+ CAST({1.0 - HOLT_ALPHA} AS DOUBLE) * (rec.l + rec.b), "
    f"CAST({HOLT_BETA} AS DOUBLE) * ((CAST({HOLT_ALPHA} AS DOUBLE) * idx.revenue "
    f"+ CAST({1.0 - HOLT_ALPHA} AS DOUBLE) * (rec.l + rec.b)) - rec.l) "
    f"+ CAST({1.0 - HOLT_BETA} AS DOUBLE) * rec.b "
    "FROM idx JOIN rec ON idx.priority = rec.priority "
    "AND idx.i = rec.i + 1) "
    "SELECT priority, mon, revenue, "
    + _HOLT_R4.format("l")
    + " AS level, "
    + _HOLT_R4.format("b")
    + " AS trend, "
    + _HOLT_R4.format("l + b")
    + " AS forecast "
    "FROM rec ORDER BY 1, 2"
)


# --- CUSUM change-point detection via grouped-map recurrence -----------------

def _cusum_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("mon").reset_index(drop=True)

    def r4(s: float) -> float:
        v = abs(s) * 10000.0
        return (1.0 if s >= 0 else -1.0) * (int(v + 0.5) // 1) / 10000.0

    # recover the exact scaled-int months (revenue is a 4-dp rounded
    # double, so round-half-away recovers the original int64) and
    # compute mu with the ORACLE's exact op sequence: sum-int ->
    # /10000.0 -> /n -> ROUND(.., 4)
    scaled = [int(abs(x) * 10000.0 + 0.5) * (1 if x >= 0 else -1)
              for x in pdf["revenue"]]
    n = len(scaled)
    mu = r4(float(sum(scaled)) / 10000.0 / n)
    k = mu / 16.0  # slack: exact power-of-two scaling, no rounding
    h = mu / 4.0   # alarm threshold
    sp = sn = 0.0
    out = []
    for x in pdf["revenue"]:
        sp = max(0.0, sp + (x - mu) - k)
        sn = max(0.0, sn + (mu - x) - k)
        out.append((sp, sn, 1 if (sp > h or sn > h) else 0))
    pdf["cusum_pos"] = [r4(a) for a, _, _ in out]
    pdf["cusum_neg"] = [r4(b) for _, b, _ in out]
    pdf["alarm"] = [a for _, _, a in out]
    return pdf


def timeseries_cusum_changepoints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """North-star — **tabular CUSUM change-point detection** (Page 1954;
    Montgomery SQC §9.1) per monthly revenue series: one-sided
    cumulative sums ``sp_t = max(0, sp_{t-1} + (x_t - mu) - k)`` /
    ``sn_t = max(0, sn_{t-1} + (mu - x_t) - k)`` with reset-at-zero,
    alarming when either exceeds ``h`` — the classic sequential drift
    detector a monitoring pipeline runs over exactly the reference's
    kind of monthly macro series (`dashboard_nfp.py`'s sharp-drop scan
    is the one-shot version of this). Slack/threshold are
    scale-relative (``k = mu/16``, ``h = mu/4`` — exact power-of-two
    scalings of the 4-dp series mean) so the operator is deterministic
    with no sigma estimate. Like EWMA/Holt the recurrence is sequential
    with no exact closed window form (the reset clamp is non-linear),
    so the per-series loop runs in grouped-map ``applyInPandas`` — one
    shuffle on the series key, series count scales out, monthly length
    bounded. Every step is add/subtract/max on identical doubles, so
    the DuckDB recursive-CTE twin hash-matches with zero tolerance."""
    return _per_priority_map(
        spark,
        sf_dir,
        _cusum_group,
        _SERIES + "cusum_pos double, cusum_neg double, alarm int",
    )


QUERIES["timeseries_cusum_changepoints"] = timeseries_cusum_changepoints

ORACLE["timeseries_cusum_changepoints"] = (
    "WITH RECURSIVE m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS rev_s FROM orders GROUP BY 1, 2), "
    "mm AS (SELECT priority, mon, "
    "ROUND(CAST(rev_s AS DOUBLE) / 10000.0, 4) AS revenue FROM m), "
    "stats AS (SELECT priority, "
    "ROUND(CAST(SUM(rev_s) AS DOUBLE) / 10000.0 / COUNT(*), 4) AS mu "
    "FROM m GROUP BY 1), "
    "idx AS (SELECT mm.priority, mm.mon, mm.revenue, stats.mu, "
    "stats.mu / 16.0 AS k, stats.mu / 4.0 AS h, "
    "ROW_NUMBER() OVER (PARTITION BY mm.priority ORDER BY mm.mon) AS i "
    "FROM mm JOIN stats ON mm.priority = stats.priority), "
    "rec(priority, mon, revenue, mu, k, h, i, sp, sn) AS ("
    "SELECT priority, mon, revenue, mu, k, h, i, "
    "GREATEST(CAST(0 AS DOUBLE), (revenue - mu) - k), "
    "GREATEST(CAST(0 AS DOUBLE), (mu - revenue) - k) "
    "FROM idx WHERE i = 1 "
    "UNION ALL "
    "SELECT idx.priority, idx.mon, idx.revenue, idx.mu, idx.k, idx.h, "
    "idx.i, "
    "GREATEST(CAST(0 AS DOUBLE), rec.sp + (idx.revenue - idx.mu) - idx.k), "
    "GREATEST(CAST(0 AS DOUBLE), rec.sn + (idx.mu - idx.revenue) - idx.k) "
    "FROM idx JOIN rec ON idx.priority = rec.priority "
    "AND idx.i = rec.i + 1) "
    "SELECT priority, mon, revenue, "
    "SIGN(sp) * (FLOOR(ABS(sp) * 10000.0 + 0.5)) / 10000.0 AS cusum_pos, "
    "SIGN(sn) * (FLOOR(ABS(sn) * 10000.0 + 0.5)) / 10000.0 AS cusum_neg, "
    "CAST(CASE WHEN sp > h OR sn > h THEN 1 ELSE 0 END AS INT) AS alarm "
    "FROM rec ORDER BY 1, 2"
)


# --- Holt-Winters additive seasonal smoothing (triple exponential) -----------

HW_ALPHA = 0.5  # all three exact binary fractions: every blend is a
HW_BETA = 0.5  # halving + adds — bit-identical python/DuckDB IEEE
HW_GAMMA = 0.5
HW_PERIOD = 12  # monthly series, yearly seasonality


def _hw_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("mon").reset_index(drop=True)

    def r4(s: float) -> float:
        v = abs(s) * 10000.0
        return (1.0 if s >= 0 else -1.0) * (int(v + 0.5) // 1) / 10000.0

    lvl = trend = None
    sh: list[float] = []  # s_1..s_t, grows like the oracle's LIST state
    out = []
    for x in pdf["revenue"]:
        if lvl is None:
            lvl, trend, s_t = x, 0.0, 0.0
        else:
            sp = sh[-HW_PERIOD] if len(sh) >= HW_PERIOD else 0.0
            prev_l, prev_b = lvl, trend
            lvl = HW_ALPHA * (x - sp) + (1.0 - HW_ALPHA) * (prev_l + prev_b)
            trend = HW_BETA * (lvl - prev_l) + (1.0 - HW_BETA) * prev_b
            s_t = HW_GAMMA * (x - prev_l - prev_b) + (1.0 - HW_GAMMA) * sp
        sh.append(s_t)
        nxt = sh[-HW_PERIOD] if len(sh) >= HW_PERIOD else 0.0
        out.append((lvl, trend, s_t, lvl + trend + nxt))
    pdf["level"] = [r4(a) for a, _, _, _ in out]
    pdf["trend"] = [r4(b) for _, b, _, _ in out]
    pdf["seasonal"] = [r4(s) for _, _, s, _ in out]
    pdf["forecast"] = [r4(f) for _, _, _, f in out]
    return pdf


def timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **Holt-Winters additive seasonal (triple
    exponential) smoothing** (Winters 1960; Hyndman & Athanasopoulos
    FPP §8.3) of the monthly per-priority revenue series, completing
    the exponential-smoothing ladder (`timeseries_ewma_smooth` level →
    `timeseries_holt_linear` +trend → here +seasonality):

        l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β) b_{t−1}
        s_t = γ(x_t − l_{t−1} − b_{t−1}) + (1−γ) s_{t−m}
        one-step forecast = l_t + b_t + s_{t+1−m}

    Cold-start policy (explicit — textbooks differ): ``l_1 = x_1,
    b_1 = 0``, and the seasonal index reads as 0 until a full period
    has accumulated (``s_{t−m} := 0`` for ``t ≤ m``) — the same
    seed-simple convention the Holt operator uses, replayed verbatim
    by the oracle so the choice is hash-verified, not asserted.

    Like its siblings the recurrence is sequential with no exact
    closed window form → grouped-map ``applyInPandas`` per series
    (one shuffle on the series key; series count scales out, monthly
    length stays bounded). α = β = γ = ½ keeps every blend a
    halving + add — single IEEE ops both engines perform identically —
    and the DuckDB twin is a recursive CTE whose state row carries
    (level, trend, **the seasonal history as a growing DOUBLE LIST**):
    ``s_{t−m}`` is plain 1-based list indexing, which is the
    interesting new device here — recursive-CTE state need not be
    scalar.
    """
    return _per_priority_map(
        spark,
        sf_dir,
        _hw_group,
        _SERIES + "level double, trend double, seasonal double, "
        "forecast double",
    )


QUERIES["timeseries_holt_winters"] = timeseries_holt_winters

# sp = the seasonal index one full period back, 0 during cold start;
# repeated inline (DuckDB computes the identical double each time)
_HW_SP = (
    f"CASE WHEN idx.i > {HW_PERIOD} THEN rec.sh[idx.i - {HW_PERIOD}] "
    "ELSE CAST(0.0 AS DOUBLE) END"
)
_HW_L = (
    f"CAST({HW_ALPHA} AS DOUBLE) * (idx.revenue - {_HW_SP}) "
    f"+ CAST({1.0 - HW_ALPHA} AS DOUBLE) * (rec.l + rec.b)"
)

ORACLE["timeseries_holt_winters"] = (
    "WITH RECURSIVE m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) "
    "AS DOUBLE) / 10000.0, 4) AS revenue "
    "FROM orders GROUP BY 1, 2), "
    "idx AS (SELECT priority, mon, revenue, "
    "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) AS i "
    "FROM m), "
    "rec(priority, mon, revenue, i, l, b, sh) AS ("
    "SELECT priority, mon, revenue, i, CAST(revenue AS DOUBLE), "
    "CAST(0.0 AS DOUBLE), [CAST(0.0 AS DOUBLE)] FROM idx WHERE i = 1 "
    "UNION ALL "
    "SELECT idx.priority, idx.mon, idx.revenue, idx.i, "
    f"{_HW_L}, "
    f"CAST({HW_BETA} AS DOUBLE) * (({_HW_L}) - rec.l) "
    f"+ CAST({1.0 - HW_BETA} AS DOUBLE) * rec.b, "
    f"list_append(rec.sh, CAST({HW_GAMMA} AS DOUBLE) "
    f"* (idx.revenue - rec.l - rec.b) "
    f"+ CAST({1.0 - HW_GAMMA} AS DOUBLE) * {_HW_SP}) "
    "FROM idx JOIN rec ON idx.priority = rec.priority "
    "AND idx.i = rec.i + 1) "
    "SELECT priority, mon, revenue, "
    + _HOLT_R4.format("l")
    + " AS level, "
    + _HOLT_R4.format("b")
    + " AS trend, "
    + _HOLT_R4.format("sh[i]")
    + " AS seasonal, "
    + _HOLT_R4.format(
        f"l + b + CASE WHEN i >= {HW_PERIOD} THEN sh[i - {HW_PERIOD - 1}] "
        "ELSE CAST(0.0 AS DOUBLE) END"
    )
    + " AS forecast "
    "FROM rec ORDER BY 1, 2"
)


# --- SES alpha grid search (model selection by one-step-ahead SSE) -----------

# every grid value is an exact binary fraction (k/8), so each blend step
# is exact-IEEE reproducible between python floats and DuckDB doubles —
# the EWMA/Holt oracle contract extended across a GRID
SES_ALPHAS = (0.25, 0.375, 0.5, 0.625, 0.75)


def _ses_grid_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("mon").reset_index(drop=True)
    xs = list(pdf["revenue"])
    pri = pdf["priority"].iloc[0]
    rows = []
    for a in SES_ALPHAS:
        s = None
        sse = 0.0
        for x in xs:
            if s is None:
                s = x
            else:
                e = x - s
                sse = sse + e * e
                s = a * x + (1.0 - a) * s
        rows.append((pri, a, sse))
    best = min(rows, key=lambda t: (t[2], t[1]))

    def r4(v: float) -> float:
        w = abs(v) * 10000.0
        return (1.0 if v >= 0 else -1.0) * (int(w + 0.5) // 1) / 10000.0

    import math as _m

    n = len(xs)
    return pd.DataFrame(
        [
            {
                "priority": pri,
                "alpha": a,
                "rmse": r4(_m.sqrt(sse / (n - 1))) if n > 1 else 0.0,
                "is_best": 1 if (sse, a) == (best[2], best[1]) else 0,
            }
            for (_, a, sse) in rows
        ]
    )


def timeseries_ses_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **model selection for simple exponential smoothing**:
    grid-search the smoothing constant α over {2/8..6/8} by one-step-
    ahead forecast SSE per series (the standard SES fitting criterion,
    Hyndman & Athanasopoulos FPP §8.1), emitting every grid point's
    RMSE with the winner flagged — the selection layer over
    `timeseries_ewma_smooth`'s fixed α=0.5.

    Determinism: every α is an exact binary fraction, so each blend
    s' = α·x + (1−α)·s and each error accumulation is exact-IEEE
    reproducible between the python grouped-map and DuckDB's recursive
    CTE (the EWMA contract); the argmin compares those bit-identical
    SSE doubles with an α tiebreaker, and only the exposed RMSE is
    rounded (4 dp, half-away). The whole grid for one series runs in
    ONE grouped-map call — 5 recurrences over an ~84-month list, not 5
    shuffles.

    Scale: one shuffle on the series key; series count scales out,
    grid size is a constant factor on bounded series length."""
    return _per_priority_map(
        spark,
        sf_dir,
        _ses_grid_group,
        "priority string, alpha double, rmse double, is_best int",
        order=("priority", "alpha"),
    )


QUERIES["timeseries_ses_grid_search"] = timeseries_ses_grid_search

ORACLE["timeseries_ses_grid_search"] = (
    "WITH RECURSIVE m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) "
    "AS DOUBLE) / 10000.0, 4) AS revenue "
    "FROM orders GROUP BY 1, 2), "
    "idx AS (SELECT priority, mon, revenue, "
    "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) AS i "
    "FROM m), "
    "cnt AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n "
    "FROM idx GROUP BY 1), "
    # CAST anchors to DOUBLE: a recursive CTE's column types bind at the
    # anchor, and bare decimal literals would type alpha/sse DECIMAL —
    # the round-11 holt DECIMAL(2,1) trap
    "grid(alpha) AS (VALUES "
    + ", ".join(f"(CAST({a} AS DOUBLE))" for a in SES_ALPHAS)
    + "), "
    "rec(priority, alpha, i, s, sse) AS ("
    "SELECT idx.priority, grid.alpha, idx.i, idx.revenue, CAST(0.0 AS DOUBLE) "
    "FROM idx, grid WHERE idx.i = 1 "
    "UNION ALL "
    "SELECT idx.priority, rec.alpha, idx.i, "
    "rec.alpha * idx.revenue + (1.0 - rec.alpha) * rec.s, "
    "rec.sse + (idx.revenue - rec.s) * (idx.revenue - rec.s) "
    "FROM idx JOIN rec ON idx.priority = rec.priority "
    "AND idx.i = rec.i + 1), "
    "fin AS (SELECT rec.priority, alpha, sse, n FROM rec "
    "JOIN cnt ON cnt.priority = rec.priority WHERE rec.i = n), "
    "rk AS (SELECT priority, alpha, sse, n, "
    "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY sse, alpha) "
    "AS r FROM fin) "
    "SELECT priority, alpha, "
    "CASE WHEN n > 1 THEN SIGN(sqrt(sse / (n - 1))) "
    "* FLOOR(ABS(sqrt(sse / (n - 1))) * 10000.0 + 0.5) / 10000.0 "
    "ELSE 0.0 END AS rmse, "
    "CAST(CASE WHEN r = 1 THEN 1 ELSE 0 END AS INT) AS is_best "
    "FROM rk ORDER BY priority, alpha"
)


# --- Damped-trend Holt smoothing via grouped-map recurrence ------------------

HOLT_PHI = 0.75  # damping: exact binary fraction (3/4), identical IEEE
# cumulative damped-sum Σ φ^j, j=1..6 — built by the SAME sequential adds
# both engines' literals come from, embedded as one shared double constant
HOLT_PHI_H = 6
_phi_cum = 0.0
_phi_pow = 1.0
for _ in range(HOLT_PHI_H):
    _phi_pow *= HOLT_PHI
    _phi_cum += _phi_pow
HOLT_PHI_CUM = _phi_cum
del _phi_cum, _phi_pow


def _holt_damped_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("mon").reset_index(drop=True)
    lvl = trend = None
    out = []
    for x in pdf["revenue"]:
        if lvl is None:
            lvl, trend = x, 0.0
        else:
            prev = lvl
            lvl = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * (
                prev + HOLT_PHI * trend
            )
            trend = HOLT_BETA * (lvl - prev) + (1.0 - HOLT_BETA) * (
                HOLT_PHI * trend
            )
        out.append(
            (
                lvl,
                trend,
                lvl + HOLT_PHI * trend,
                lvl + HOLT_PHI_CUM * trend,
            )
        )

    def r4(s: float) -> float:
        v = abs(s) * 10000.0
        return (1.0 if s >= 0 else -1.0) * (int(v + 0.5) // 1) / 10000.0

    pdf["level"] = [r4(a) for a, _, _, _ in out]
    pdf["trend"] = [r4(b) for _, b, _, _ in out]
    pdf["forecast_1"] = [r4(f) for _, _, f, _ in out]
    pdf["forecast_h"] = [r4(f) for _, _, _, f in out]
    return pdf


def timeseries_holt_damped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **damped-trend Holt smoothing** (Gardner & McKenzie
    1985; FPP §8.2 — the method M3-competition forecasting practice
    actually defaults to, because an undamped linear trend extrapolates
    implausibly at long horizons):
    ``l_t = α·x_t + (1−α)(l_{t−1} + φ·b_{t−1})``,
    ``b_t = β(l_t − l_{t−1}) + (1−β)·φ·b_{t−1}``, forecasts
    ``ŷ_{t+1} = l_t + φ·b_t`` and ``ŷ_{t+6} = l_t + (Σ_{j≤6} φ^j)·b_t``
    — completing the exponential-smoothing ladder (EWMA → Holt →
    damped Holt → Holt-Winters) with the flattening-horizon member.

    Determinism: the `timeseries_holt_linear` device — α = β = ½
    (halvings) and φ = ¾ are exact binary fractions, every update is
    the same short IEEE op sequence in the grouped-map kernel and the
    DuckDB recursive-CTE replay, so the 4-dp outputs hash-match with
    zero tolerance; the horizon-6 damped sum is ONE shared python-built
    double constant embedded in both engines.

    Scale: one shuffle on the series key; series count scales out,
    monthly length bounded (the grouped-map recurrence posture).

    Reference scope: the recurrence family the reference's monthly
    NFP series analysis motivates (`dashboard_nfp.py` trend charts);
    no reference code is reused."""
    return _per_priority_map(
        spark,
        sf_dir,
        _holt_damped_group,
        _SERIES + "level double, trend double, forecast_1 double, "
        "forecast_h double",
    )


QUERIES["timeseries_holt_damped"] = timeseries_holt_damped

ORACLE["timeseries_holt_damped"] = (
    "WITH RECURSIVE m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) "
    "AS DOUBLE) / 10000.0, 4) AS revenue "
    "FROM orders GROUP BY 1, 2), "
    "idx AS (SELECT priority, mon, revenue, "
    "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) AS i "
    "FROM m), "
    "rec(priority, mon, revenue, i, l, b) AS ("
    "SELECT priority, mon, revenue, i, CAST(revenue AS DOUBLE), "
    "CAST(0.0 AS DOUBLE) FROM idx WHERE i = 1 "
    "UNION ALL "
    "SELECT idx.priority, idx.mon, idx.revenue, idx.i, "
    f"CAST({HOLT_ALPHA} AS DOUBLE) * idx.revenue "
    f"+ CAST({1.0 - HOLT_ALPHA} AS DOUBLE) * (rec.l "
    f"+ CAST({HOLT_PHI} AS DOUBLE) * rec.b), "
    f"CAST({HOLT_BETA} AS DOUBLE) * ((CAST({HOLT_ALPHA} AS DOUBLE) "
    f"* idx.revenue + CAST({1.0 - HOLT_ALPHA} AS DOUBLE) * (rec.l "
    f"+ CAST({HOLT_PHI} AS DOUBLE) * rec.b)) - rec.l) "
    f"+ CAST({1.0 - HOLT_BETA} AS DOUBLE) "
    f"* (CAST({HOLT_PHI} AS DOUBLE) * rec.b) "
    "FROM idx JOIN rec ON idx.priority = rec.priority "
    "AND idx.i = rec.i + 1) "
    "SELECT priority, mon, revenue, "
    + _HOLT_R4.format("l")
    + " AS level, "
    + _HOLT_R4.format("b")
    + " AS trend, "
    + _HOLT_R4.format(f"l + CAST({HOLT_PHI} AS DOUBLE) * b")
    + " AS forecast_1, "
    + _HOLT_R4.format(f"l + CAST({HOLT_PHI_CUM!r} AS DOUBLE) * b")
    + " AS forecast_h "
    "FROM rec ORDER BY 1, 2"
)


# --- Theta-method forecast (OLS theta-0 line + SES on the theta-2 line) ------


def _theta_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("mon").reset_index(drop=True)
    # recover the exact scaled-int series (revenue is a 4-dp rounded
    # double) and build the OLS normal-equation sums as exact python
    # ints; float() of a big int is correctly rounded — the same value
    # DuckDB's CAST(HUGEINT AS DOUBLE) yields
    ys = [
        int(abs(x) * 10000.0 + 0.5) * (1 if x >= 0 else -1)
        for x in pdf["revenue"]
    ]
    n = len(ys)
    st = n * (n + 1) // 2
    st2 = n * (n + 1) * (2 * n + 1) // 6
    sy = sum(ys)
    sty = sum((i + 1) * y for i, y in enumerate(ys))
    b_s = float(n * sty - st * sy) / float(n * st2 - st * st)
    a_s = (float(sy) - b_s * float(st)) / float(n)
    lvl = None
    out = []
    for i, y in enumerate(ys, start=1):
        line = a_s + b_s * float(i)
        z = 2.0 * float(y) - line
        lvl = z if lvl is None else 0.5 * z + 0.5 * lvl
        nxt = a_s + b_s * float(i + 1)
        out.append((line, z, lvl, (lvl + nxt) / 2.0))

    def r4(s: float) -> float:
        v = abs(s) * 10000.0
        return (1.0 if s >= 0 else -1.0) * (int(v + 0.5) // 1) / 10000.0

    pdf["linear_fit"] = [r4(a / 10000.0) for a, _, _, _ in out]
    pdf["theta2"] = [r4(b / 10000.0) for _, b, _, _ in out]
    pdf["ses_level"] = [r4(c / 10000.0) for _, _, c, _ in out]
    pdf["forecast_next"] = [r4(d / 10000.0) for _, _, _, d in out]
    return pdf


def timeseries_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — the **Theta method** (Assimakopoulos &
    Nikolopoulos 2000 — the M3-competition winner; Hyndman & Billah
    2003 show it is SES-with-drift): decompose each monthly series
    into the θ=0 line (the OLS trend, all long-run signal) and the
    θ=2 line z_t = 2y_t − line_t (doubled curvature), smooth the θ=2
    line with SES (α=½), and forecast the average of the SES level and
    the extrapolated trend — the forecasting-ladder member that
    combines `agg_linear_trend`'s regression with
    `timeseries_ewma_smooth`'s recurrence.

    Determinism: the OLS normal equations build from EXACT integer
    sums (the kernel recovers the scaled ints from the 4-dp revenue
    and sums arbitrary-precision python ints; DuckDB accumulates the
    same sums in HUGEINT — float()/CAST both round nearest), so a and
    b are the identical doubles; every SES step is a halving+add on
    identical doubles; the DuckDB recursive-CTE replay hash-matches at
    4 dp with zero tolerance.

    Scale: one shuffle on the series key (grouped-map recurrence
    posture); series count scales out, monthly length bounded."""
    return _per_priority_map(
        spark,
        sf_dir,
        _theta_group,
        _SERIES + "linear_fit double, theta2 double, ses_level double, "
        "forecast_next double",
    )


QUERIES["timeseries_theta_forecast"] = timeseries_theta_forecast

ORACLE["timeseries_theta_forecast"] = (
    "WITH RECURSIVE m AS (SELECT o_orderpriority AS priority, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS BIGINT) "
    "AS ys FROM orders GROUP BY 1, 2), "
    "idx AS (SELECT priority, mon, ys, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY priority ORDER BY mon) "
    "AS BIGINT) AS i FROM m), "
    "ols AS (SELECT priority, CAST(COUNT(*) AS HUGEINT) AS n, "
    "CAST(SUM(i) AS HUGEINT) AS st, "
    "CAST(SUM(i * i) AS HUGEINT) AS st2, "
    "CAST(SUM(CAST(ys AS HUGEINT)) AS HUGEINT) AS sy, "
    "CAST(SUM(CAST(i AS HUGEINT) * ys) AS HUGEINT) AS sty "
    "FROM idx GROUP BY 1), "
    "ab AS (SELECT priority, "
    "CAST(n * sty - st * sy AS DOUBLE) "
    "/ CAST(n * st2 - st * st AS DOUBLE) AS b_s, "
    "(CAST(sy AS DOUBLE) - CAST(n * sty - st * sy AS DOUBLE) "
    "/ CAST(n * st2 - st * st AS DOUBLE) * CAST(st AS DOUBLE)) "
    "/ CAST(n AS DOUBLE) AS a_s FROM ols), "
    "rec(priority, mon, ys, i, a_s, b_s, l) AS ("
    "SELECT idx.priority, mon, ys, i, a_s, b_s, "
    "2.0 * CAST(ys AS DOUBLE) "
    "- (a_s + b_s * CAST(i AS DOUBLE)) "
    "FROM idx JOIN ab ON ab.priority = idx.priority WHERE i = 1 "
    "UNION ALL "
    "SELECT idx.priority, idx.mon, idx.ys, idx.i, rec.a_s, rec.b_s, "
    "CAST(0.5 AS DOUBLE) * (2.0 * CAST(idx.ys AS DOUBLE) "
    "- (rec.a_s + rec.b_s * CAST(idx.i AS DOUBLE))) "
    "+ CAST(0.5 AS DOUBLE) * rec.l "
    "FROM idx JOIN rec ON idx.priority = rec.priority "
    "AND idx.i = rec.i + 1) "
    "SELECT priority, mon, "
    "ROUND(CAST(ys AS DOUBLE) / 10000.0, 4) AS revenue, "
    + _HOLT_R4.format("(a_s + b_s * CAST(i AS DOUBLE)) / 10000.0")
    + " AS linear_fit, "
    + _HOLT_R4.format(
        "(2.0 * CAST(ys AS DOUBLE) - (a_s + b_s * CAST(i AS DOUBLE))) "
        "/ 10000.0"
    )
    + " AS theta2, "
    + _HOLT_R4.format("l / 10000.0")
    + " AS ses_level, "
    + _HOLT_R4.format(
        "((l + (a_s + b_s * CAST(i + 1 AS DOUBLE))) / 2.0) / 10000.0"
    )
    + " AS forecast_next "
    "FROM rec ORDER BY 1, 2"
)
