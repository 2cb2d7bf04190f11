"""SQL-entry operators: dialect-shared ANSI SQL, executed by ``spark.sql``.

The reference *displays* SQL it never runs (`dashboard_nfp.py:90-97,
120-130, ...` are documentation inside `st.expander` blocks); here the SQL
IS the executed path. Each query below is one ANSI string that runs
unchanged on Spark AND DuckDB — the oracle is literally the same text, so
the parity gate proves the engine's SQL front-end agrees with another
engine's on the shared dialect.

These exercise the subquery surface the DataFrame pack doesn't:
EXISTS / IN / correlated scalar subqueries, which Catalyst decorrelates
into semi joins and aggregate-joins (RewriteCorrelatedScalarSubquery) —
the scalable physical shapes, not row-at-a-time re-execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import register_views

# The reference's fact table as a dialect-shared CTE over orders: the
# monthly series IS the engine's `nonfarm_payrolls` analogue (column names
# match the reference DDL, `etl.py:58-63`). Scaled-int sums/avgs keep the
# doubles bitwise-identical across engines (functions/numerics rationale).
_NP = (
    "nonfarm_payrolls AS (SELECT date_trunc('month', o_orderdate) AS date, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS DOUBLE) "
    "/ 10000.0 AS total_payroll_employment FROM orders GROUP BY 1)"
)
_MOM = (
    "mom_change AS (SELECT date, total_payroll_employment, "
    "(total_payroll_employment - LAG(total_payroll_employment) "
    "OVER (ORDER BY date)) * 100.0 / LAG(total_payroll_employment) "
    "OVER (ORDER BY date) AS mom_pct_change FROM nonfarm_payrolls)"
)

SHARED_SQL = {
    # The SQL the reference DISPLAYS for its dice analysis
    # (`dashboard_nfp.py:205-221`: CTE + LAG window + filtered aggregate),
    # executed for real through spark.sql. Adaptations, both documented
    # determinism policy: the AVG is the scaled-int form, and the ORDER BY
    # carries a month tiebreaker.
    "sql_dashboard_q4_growth": (
        f"WITH {_NP}, {_MOM} "
        "SELECT CAST(EXTRACT(MONTH FROM date) AS INT) AS month, "
        "ROUND(CAST(SUM(CAST(ROUND(mom_pct_change * 1000000) AS BIGINT)) "
        "AS DOUBLE) / 1000000.0 / COUNT(mom_pct_change), 6) "
        "AS avg_q4_growth "
        "FROM mom_change WHERE EXTRACT(MONTH FROM date) IN (10, 11, 12) "
        "GROUP BY 1 ORDER BY avg_q4_growth DESC, month"
    ),
    # `dashboard_nfp.py:407-415` — the sharpest MoM drop, LIMIT 1.
    # The first row's NULL pct is filtered explicitly: Spark sorts ASC
    # NULLS FIRST, DuckDB NULLS LAST — relying on either would flip the
    # answer between engines.
    "sql_dashboard_sharpest_drop": (
        f"WITH {_NP}, {_MOM} "
        "SELECT date, total_payroll_employment, "
        "ROUND(mom_pct_change, 6) AS mom_growth "
        "FROM mom_change WHERE mom_pct_change IS NOT NULL "
        "ORDER BY mom_growth ASC, date LIMIT 1"
    ),
    # `dashboard_nfp.py:305-316` — decade CASE rollup (decades shifted to
    # the fixture's 1992-2001 span).
    "sql_dashboard_decade_case": (
        f"WITH {_NP} "
        "SELECT CASE "
        "WHEN EXTRACT(YEAR FROM date) BETWEEN 1990 AND 1999 THEN '1990s' "
        "WHEN EXTRACT(YEAR FROM date) BETWEEN 2000 AND 2009 THEN '2000s' "
        "ELSE 'Other' END AS decade, "
        "ROUND(CAST(SUM(CAST(ROUND(total_payroll_employment * 10000) "
        "AS BIGINT)) AS DOUBLE) / 10000.0 "
        "/ COUNT(total_payroll_employment), 4) AS avg_employment "
        "FROM nonfarm_payrolls GROUP BY 1 ORDER BY 1"
    ),
    # EXISTS → left-semi join after decorrelation; the inner query is never
    # materialized per-row.
    "sql_exists_big_order": (
        "SELECT c_mktsegment, COUNT(*) AS n_customers "
        "FROM customer WHERE EXISTS (SELECT 1 FROM orders "
        "WHERE o_custkey = c_custkey AND o_totalprice > 400000.0) "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    ),
    # correlated scalar subquery → aggregate + join on the correlation key.
    # The outer table is aliased and the correlation fully qualified
    # (c2.c_nationkey = c.c_nationkey): an unqualified c_nationkey inside
    # the subquery would resolve to the INNER c2 (innermost scope wins),
    # silently comparing every customer to the global average instead of
    # their nation's.
    "sql_scalar_above_nation_avg": (
        "SELECT n_name, COUNT(*) AS n_above "
        "FROM customer c JOIN nation ON c.c_nationkey = n_nationkey "
        "WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2 "
        "WHERE c2.c_nationkey = c.c_nationkey) "
        "GROUP BY n_name ORDER BY n_name"
    ),
    # IN over a subquery → semi join; NOT IN deliberately avoided (its
    # three-valued NULL semantics differ from ANTI and trip users — the
    # engine's anti-join surface is join_semi_anti).
    "sql_in_subquery_region_orders": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "COUNT(*) AS n_orders "
        "FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'EUROPE') "
        "GROUP BY 1 ORDER BY 1"
    ),
    # LATERAL correlated subquery with per-row ORDER BY + LIMIT — the
    # SQL-standard top-k-per-group form. Catalyst decorrelates the lateral
    # into a row_number window + rank filter + broadcast join (pinned in
    # tests/test_plans.py), NOT row-at-a-time re-execution. One artifact:
    # the correlated ORDER BY also plans a global range sort the window
    # re-does per-partition — the hand-written window formulation
    # (window_rank_topk_per_group) avoids it and stays the tuned scale
    # path; this entry proves the SQL surface. Tiebreak: (bal DESC,
    # c_name) is total within a nation (c_name is unique).
    "sql_lateral_topk_per_group": (
        "SELECT n.n_name AS nation, t.c_name, t.bal "
        "FROM nation n, LATERAL ("
        "SELECT c_name, ROUND(c_acctbal, 4) AS bal "
        "FROM customer WHERE c_nationkey = n.n_nationkey "
        "ORDER BY c_acctbal DESC, c_name LIMIT 3) t "
        "ORDER BY nation, bal DESC, c_name"
    ),
    # WITH RECURSIVE (Spark 4 / SQL:1999) — a month spine from the data's
    # own min/max bounds, LEFT JOINed back so empty months surface as 0
    # (the recursive-SQL twin of udtf_month_spine / timeseries_gap_fill).
    # Recursion depth = month span of the data (~bounded, ~100 iterations
    # max by engine default) — the spine is O(months), never O(rows), so
    # the recursion is driver-cheap while the join stays distributed.
    # The upper bound RIDES THE RECURSION as a second column: a
    # '(SELECT hi FROM bounds)' step predicate would re-run the MIN/MAX
    # aggregation every iteration (~18x slower, measured — each
    # recursion step is its own job in Spark).
    "sql_recursive_month_spine": (
        "WITH RECURSIVE bounds AS ("
        "SELECT date_trunc('month', MIN(o_orderdate)) AS lo, "
        "date_trunc('month', MAX(o_orderdate)) AS hi FROM orders), "
        "spine(m, hi) AS ("
        "SELECT lo, hi FROM bounds "
        "UNION ALL "
        "SELECT m + INTERVAL 1 MONTH, hi FROM spine WHERE m < hi) "
        "SELECT s.m AS month_start, COUNT(o.o_orderkey) AS n_orders "
        "FROM spine s LEFT JOIN orders o "
        "ON date_trunc('month', o.o_orderdate) = s.m "
        "GROUP BY s.m ORDER BY s.m"
    ),
    # GROUP BY ALL / ORDER BY ALL (DuckDB-pioneered, Spark 3.4+/4): both
    # engines resolve ALL to the non-aggregate select items (year,
    # status) and to every output column left-to-right ASC respectively
    # — the parity hash proves the two resolutions agree. (year, status)
    # is a unique grouping key, so ORDER BY ALL is total.
    "sql_group_by_all": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "o_orderstatus AS status, COUNT(*) AS n_orders, "
        "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) "
        "AS DOUBLE) / 10000.0, 4) AS total_price "
        "FROM orders GROUP BY ALL ORDER BY ALL"
    ),
}


def _run(name: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(SHARED_SQL[name])

    fn.__name__ = name
    fn.__doc__ = (
        "Dialect-shared ANSI SQL (same text is the DuckDB oracle):\n\n"
        + SHARED_SQL[name]
    )
    return fn


QUERIES = {name: _run(name) for name in SHARED_SQL}

ORACLE = dict(SHARED_SQL)


# --- SQL pipe syntax (Spark 4, SPARK-49555) -------------------------------

# The same finished-orders yearly rollup, written in Spark 4's pipe
# dialect: each |> stage is one logical operator applied to the previous
# result, in execution order. Catalyst parses this into the IDENTICAL
# logical plan as the ANSI form (the DuckDB oracle below), so the parity
# hash also proves dialect equivalence. The money sum is the scaled-int64
# convention (functions/numerics) stated inline.
PIPE_SQL = (
    "FROM orders "
    "|> WHERE o_orderstatus = 'F' "
    "|> EXTEND year(o_orderdate) AS yr "
    "|> AGGREGATE COUNT(*) AS n_orders, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS DOUBLE) "
    "/ 10000.0 AS total_price GROUP BY yr "
    "|> ORDER BY yr"
)


def sql_pipe_syntax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL **pipe syntax** front-end (``|>`` stages, SPARK-49555):
    scan → filter → derived column → grouped aggregate → sort, written in
    dataflow order. The feature is front-end only — the optimized plan is
    the same pushdown + partial-agg shape as the ANSI text — which the
    DuckDB oracle (plain ANSI) verifies by value hash.

    vs reference: the reference displays SQL it never executes
    (``dashboard_nfp.py:90-97``); here even the alternate dialect runs.
    """
    register_views(spark, sf_dir)
    return spark.sql(PIPE_SQL)


QUERIES["sql_pipe_syntax_rollup"] = sql_pipe_syntax_rollup

ORACLE["sql_pipe_syntax_rollup"] = (
    "SELECT CAST(year(o_orderdate) AS INT) AS yr, COUNT(*) AS n_orders, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS DOUBLE) "
    "/ 10000.0 AS total_price "
    "FROM orders WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1"
)


# --- Parameterized SQL (named-parameter binding) ---------------------------

_PARAM_SQL = (
    "SELECT o_orderpriority, COUNT(*) AS n_orders, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS DOUBLE) "
    "/ 10000.0 AS total_price "
    "FROM orders WHERE o_totalprice >= :min_price "
    "AND year(o_orderdate) = :yr "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"
)
_PARAMS = {"min_price": 150000.0, "yr": 1996}


def sql_parameterized_args(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL binding (``spark.sql(sql, args={...})``,
    Spark 3.4+): values bound as TYPED LITERALS by the parser — no
    string interpolation, no injection surface, and Catalyst still
    constant-folds/pushes them down exactly like inline literals (the
    parity hash against the constant-inlined oracle proves plan-level
    equivalence). This is the integration surface every dashboard/API
    layer uses to template the reference's date/threshold inputs
    (``dashboard_nfp.py`` re-renders pandas filters per widget value).
    """
    register_views(spark, sf_dir)
    return spark.sql(_PARAM_SQL, args=_PARAMS)


QUERIES["sql_parameterized_args"] = sql_parameterized_args

ORACLE["sql_parameterized_args"] = (
    _PARAM_SQL.replace(":min_price", repr(_PARAMS["min_price"]))
    .replace(":yr", str(_PARAMS["yr"]))
    .replace("year(o_orderdate) = 1996",
             "CAST(year(o_orderdate) AS INT) = 1996")
)


# --- QUALIFY dialect mapping ------------------------------------------------

# Spark has no QUALIFY clause (parse error at the keyword, probed on 4.1);
# the engine-portable form of "filter on a window function" is the derived
# table with the window in the SELECT list. This entry pins the mapping:
# the Spark text is the subquery form, the DuckDB oracle the QUALIFY form —
# the parity hash proves they denote the same relation. Tiebreak
# (o_totalprice DESC, o_orderkey) is total, so top-2 is deterministic.
_QUALIFY_SPARK = (
    "SELECT year, o_orderkey, price FROM ("
    "SELECT CAST(year(o_orderdate) AS INT) AS year, o_orderkey, "
    "ROUND(o_totalprice, 4) AS price, "
    "ROW_NUMBER() OVER (PARTITION BY year(o_orderdate) "
    "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) "
    "WHERE rn <= 2 ORDER BY year, price DESC, o_orderkey"
)


def sql_qualify_topk_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**QUALIFY-clause dialect mapping** (Snowflake/DuckDB/BigQuery
    extension; not in Spark's grammar): a window-function filter. Spark
    runs the portable derived-table formulation; the oracle is the same
    query written WITH QUALIFY — the value hash proves the mapping a
    migrating user applies is exact. Catalyst plans the subquery form
    as window + rank filter (the same physical shape QUALIFY engines
    produce), so nothing is lost in translation at scale either."""
    register_views(spark, sf_dir)
    return spark.sql(_QUALIFY_SPARK)


QUERIES["sql_qualify_topk_dialect"] = sql_qualify_topk_dialect

ORACLE["sql_qualify_topk_dialect"] = (
    "SELECT CAST(year(o_orderdate) AS INT) AS year, o_orderkey, "
    "ROUND(o_totalprice, 4) AS price "
    "FROM orders "
    "QUALIFY ROW_NUMBER() OVER (PARTITION BY year(o_orderdate) "
    "ORDER BY o_totalprice DESC, o_orderkey) <= 2 "
    "ORDER BY year, price DESC, o_orderkey"
)


def sql_distinct_on_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**DISTINCT ON dialect mapping** — "latest order per customer"
    stated as DuckDB/Postgres ``DISTINCT ON (key) ... ORDER BY key,
    ts DESC`` in the oracle and as the standard Spark rewrite (rank-1
    row_number window under a total order) here: the value hash proves
    the two resolutions pick the IDENTICAL representative row,
    tiebreaks included — the `sql_qualify_topk_dialect` companion for
    the other major vendor-specific top-1 idiom.

    Determinism: the pick order (o_orderdate DESC, o_orderkey DESC) is
    total (unique key tiebreak); money rounds 4 dp.

    Scale: one exchange by customer, rank-1 filter — no global sort
    before the output ORDER BY."""
    from pyspark.sql import functions as F

    from ..functions.numerics import dround
    from ..functions.ranks import top_k
    from ..io import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return (
        top_k(
            orders,
            "o_custkey",
            1,
            F.col("o_orderdate").desc(),
            F.col("o_orderkey").desc(),
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("last_order_ts"),
            F.col("o_orderkey").alias("last_orderkey"),
            dround("o_totalprice", 4).alias("last_order_price"),
        )
        .orderBy("custkey")
    )


QUERIES["sql_distinct_on_dialect"] = sql_distinct_on_dialect

ORACLE["sql_distinct_on_dialect"] = (
    "SELECT DISTINCT ON (o_custkey) o_custkey AS custkey, "
    "o_orderdate AS last_order_ts, o_orderkey AS last_orderkey, "
    "ROUND(o_totalprice, 4) AS last_order_price "
    "FROM orders "
    "ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC"
)
