"""Partitioned-at-rest layout variants (SURVEY §7.3 "100 TB posture").

The reference stores one unpartitioned table (`etl.py:58-63`). At 100 TB
the single most important storage decision is the partition layout: a
year-partitioned fact table lets every time-sliced query prune whole
directories before a single byte is read (static partition pruning — the
`PartitionFilters` entry in the scan node, asserted in
`tests/test_plans.py`).

Every layout copy is derived state (``functions/derived.py``): it is
materialized once per source-table content signature under the process
scratch base — the test fixtures are read-only, so the layout variants
live beside them, and a rewritten source gets a fresh copy. Results
are identical to the unpartitioned scan by construction; the DuckDB oracle
reads the ORIGINAL parquet, so the parity gate proves layout does not
change semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.derived import derived_path, scratch_path
from ..functions.numerics import dsum, dsum_sql
from ..io import read_table


def _built(d: str) -> bool:
    """Spark writes ``_SUCCESS`` last: a directory without it is a
    half-finished build and is rewritten, never served."""
    return os.path.exists(os.path.join(d, "_SUCCESS"))


def _table_built(spark: SparkSession, path: str) -> bool:
    """Catalog twin of :func:`_built` for tables saved at ``path`` under
    its basename: the catalog entry is session-scoped but the files are
    process-scoped, so both must exist; a stale half is dropped."""
    name = os.path.basename(path)
    if spark.catalog.tableExists(name) and os.path.exists(path):
        return True
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    return False


def partitioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-partitioned copy of ``orders`` (directory layout
    ``o_year=<y>/part-*.parquet``), built once per ``orders`` content."""
    with_year = read_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    d = derived_path(sf_dir, "orders_by_year", ("orders",))
    if not _built(d):
        with_year.write.mode("overwrite").partitionBy("o_year").parquet(d)
    # explicit schema: an EMPTY source writes only _SUCCESS (no footers), and
    # schema inference on that raises — a real failure mode for pruned-to-
    # nothing intermediate tables at scale. The schema is known; state it.
    return spark.read.schema(with_year.schema).parquet(d)


def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly totals for two years off the partitioned layout: the year
    predicate is a pure partition filter — non-matching years are never
    opened. The same query on the flat table reads every row group and
    relies on row-group stats instead."""
    po = partitioned_orders(spark, sf_dir)
    return (
        po.filter(F.col("o_year").isin(1997, 1998))
        .groupBy(F.col("o_year").cast("int").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(dsum("o_totalprice"), 4).alias("total"),
        )
        .orderBy("year")
    )


QUERIES = {
    "scan_partition_pruned": scan_partition_pruned,
}

ORACLE = {
    "scan_partition_pruned": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "COUNT(*) AS n_orders, "
        f"ROUND({dsum_sql('o_totalprice')}, 4) AS total "
        "FROM orders WHERE year(o_orderdate) IN (1997, 1998) "
        "GROUP BY 1 ORDER BY 1"
    ),
}


# --- Dynamic partition pruning: dim-filter -> pruned fact partitions ----
#
# Static pruning (above) needs the year literal IN the query. The
# star-schema-at-scale shape is a filter on a DIM attribute that only
# implies the fact partitions at runtime: Catalyst's DPP rule executes
# the (broadcast) dim side first and injects its join keys as a
# `dynamicpruningexpression` partition filter on the fact scan — whole
# fact directories are skipped without the query naming a single year.
# tests/test_plans.py pins the dynamicpruningexpression in the scan.

def _year_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiny year dimension derived from orders (one row per distinct
    order year, with a selective boolean attribute), materialized once to
    parquet so the DPP filter side is a clean scan+filter relation."""
    d = derived_path(sf_dir, "year_dim", ("orders",))
    if not _built(d):
        (
            read_table(spark, sf_dir, "orders")
            .select(F.year("o_orderdate").alias("d_year"))
            .distinct()
            # a STRING attribute filtered by equality: Catalyst's DPP
            # insertion requires a likely-selective predicate on the dim
            # side, and a bare boolean attribute fails that heuristic
            # (BooleanSimplification folds `x = true` back to `x`)
            .withColumn(
                "d_era",
                F.when(F.col("d_year") % 4 == 0, F.lit("leap")).otherwise(
                    F.lit("common")
                ),
            )
            .coalesce(1)
            .write.mode("overwrite").parquet(d)
        )
    return spark.read.parquet(d)


def scan_dpp_dim_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — yearly totals for leap years, where "leap" lives only
    on the year DIM: the fact side is the year-partitioned orders layout
    and the years to scan are discovered at runtime via dynamic partition
    pruning (the dim's broadcast result doubles as the fact's partition
    filter). Non-matching year directories are never opened, exactly the
    dim-filtered star-join shape that dominates 100 TB fact scans."""
    po = partitioned_orders(spark, sf_dir)
    dim = _year_dim(spark, sf_dir)
    return (
        po.join(F.broadcast(dim), po.o_year == dim.d_year)
        .filter(F.col("d_era") == "leap")
        .groupBy(F.col("o_year").cast("int").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(dsum("o_totalprice"), 4).alias("total"),
        )
        .orderBy("year")
    )


QUERIES["scan_dpp_dim_filter"] = scan_dpp_dim_filter

ORACLE["scan_dpp_dim_filter"] = (
    "SELECT CAST(year(o_orderdate) AS INT) AS year, "
    "COUNT(*) AS n_orders, "
    f"ROUND({dsum_sql('o_totalprice')}, 4) AS total "
    "FROM orders WHERE (year(o_orderdate) % 4) = 0 "
    "GROUP BY 1 ORDER BY 1"
)


# --- Bucketed layout: the zero-exchange repeated-join posture -----------
#
# Partitioning prunes; BUCKETING pre-shuffles. A fact and dim bucketed by
# the same join key into the same bucket count are co-located at rest:
# every subsequent join on that key is exchange-free (the per-query
# shuffle that dominates repeated big-big joins is paid ONCE, at write
# time). tests/test_plans.py asserts the join + per-key aggregate plan
# contains ZERO Exchange nodes.

N_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders + customer bucketed by custkey as external tables
    (once per source content); returns the two catalog table names."""
    names = []
    for table, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        path = derived_path(sf_dir, f"bkt_{table}", (table,), N_BUCKETS)
        name = os.path.basename(path)
        names.append(name)
        if _table_built(spark, path):
            continue
        (
            read_table(spark, sf_dir, table)
            .write.mode("overwrite")
            .option("path", path)
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    return tuple(names)


def _bucketed_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + per-customer aggregate over the bucketed layout, unordered
    (the plan-test subject: zero Exchange nodes end to end — the join
    reads co-located buckets and the aggregate reuses the join's hash
    partitioning)."""
    o_name, c_name = _bucketed_tables(spark, sf_dir)
    o = spark.table(o_name)
    c = spark.table(c_name)
    # hint("merge") pins the co-located sort-merge strategy: a broadcast
    # of the sf0.01 dim would ALSO be exchange-free here but proves
    # nothing about bucketing, and at 100 TB neither side broadcasts
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_custkey").alias("custkey"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(dsum("o_totalprice"), 4).alias("total_spent"),
        )
    )


def join_bucketed_zero_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — per-customer order totals off bucketed-at-rest orders
    and customer: both sides pre-bucketed by custkey so the fact-dim join
    AND the per-key aggregate run without a single shuffle (the write-once
    pre-shuffle strategy for repeated joins; reference joins eagerly in
    pandas, `dashboard_nfp.py` has no layout notion). Results are
    byte-identical to the plain join — the oracle reads the flat tables."""
    return _bucketed_join_frame(spark, sf_dir).orderBy("custkey")


QUERIES["join_bucketed_zero_shuffle"] = join_bucketed_zero_shuffle

ORACLE["join_bucketed_zero_shuffle"] = (
    "SELECT c_custkey AS custkey, c_mktsegment, "
    "COUNT(*) AS n_orders, "
    f"ROUND({dsum_sql('o_totalprice')}, 4) AS total_spent "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "GROUP BY 1, 2 ORDER BY 1"
)


# --- Bucketed-at-rest TPC-H q8: retiring the fact-fact shuffle ----------
#
# `tpch_q8_market_share` (tpch_analytics.py:497) pays the orders⋈lineitem
# exchange every run — the one structural cost a single-node in-process
# engine never shows. The recurring-join answer is the same write-once
# pre-shuffle as join_bucketed_zero_shuffle, applied to the ORDER KEY:
# both facts bucketed+sorted by orderkey at rest, so the q8 join is a
# co-located sort-merge with ZERO Exchange on the fact-fact key (the only
# shuffles left feed the 7-row year aggregate). Same arithmetic, same
# oracle SQL as q8 — layout is physical, never semantic.

Q8_N_BUCKETS = 32


def _q8_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders + lineitem bucketed/sorted by orderkey as external
    tables (once per session + source content); returns catalog names.

    Columns are projected to q8's working set before the write — at rest
    you would bucket the FULL table once and let parquet column pruning
    serve every query; the projection only bounds fixture write cost."""
    names = []
    for table, key, cols in (
        ("orders", "o_orderkey", ("o_orderkey", "o_custkey", "o_orderdate")),
        ("lineitem", "l_orderkey",
         ("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")),
    ):
        path = derived_path(
            sf_dir, f"q8bkt_{table}", (table,), Q8_N_BUCKETS, cols
        )
        name = os.path.basename(path)
        names.append(name)
        if _table_built(spark, path):
            continue
        (
            read_table(spark, sf_dir, table)
            .select(*cols)
            # pre-route rows by the SAME hash the bucket writer uses so
            # each task holds exactly one bucket → ONE sorted file per
            # bucket. With multiple files per bucket Spark discards the
            # at-rest sort order and re-sorts before every merge join;
            # one file per bucket keeps reads truly sort-free.
            .repartition(Q8_N_BUCKETS, F.col(key))
            .write.mode("overwrite")
            .option("path", path)
            # parquet's dictionary encoder keeps a per-writer value->id
            # hash map in heap until the page fills; on near-unique fact
            # doubles (l_extendedprice at 60M rows x 32 concurrent
            # writers) the dictionaries OOMed the 8g heap in the 100x
            # bench section (round 13) while compressing nothing —
            # dictionary encoding is for low-cardinality columns
            .option("parquet.enable.dictionary", "false")
            .bucketBy(Q8_N_BUCKETS, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    return tuple(names)


def tpch_q8_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — TPC-H q8 market share off orderkey-bucketed facts:
    the orders⋈lineitem join runs exchange-free on the at-rest layout
    (hint("merge") pins the co-located SMJ; broadcast dim probes preserve
    the scan's bucket distribution), retiring the fact-fact shuffle that
    dominates the ad-hoc plan at scale. Reference semantics:
    `dashboard_nfp.py` has no layout notion; q8 parity target is
    tpch_analytics.tpch_q8_market_share — identical arithmetic, same
    oracle SQL, hash-identical output."""
    from .tpch_analytics import _q8_aggregate, _q8_sides

    o_name, li_name = _q8_bucketed_tables(spark, sf_dir)
    li = spark.table(li_name)
    orders = spark.table(o_name)
    li_flagged, asia_orders = _q8_sides(spark, sf_dir, li, orders)
    return _q8_aggregate(
        li_flagged.hint("merge").join(
            asia_orders, li_flagged.l_orderkey == asia_orders.o_orderkey
        )
    )


QUERIES["tpch_q8_bucketed"] = tpch_q8_bucketed

# byte-identical contract with the flat-plan q8: ONE oracle SQL serves
# both (layout is physical, never semantic)
from .tpch_analytics import ORACLE as _TPCH_ORACLE  # noqa: E402

ORACLE["tpch_q8_bucketed"] = _TPCH_ORACLE["tpch_q8_market_share"]


# --- Z-order (Morton) clustering: multi-dimensional data skipping --------
#
# Directory partitioning prunes on ONE dimension. When queries slice on
# two (customer range x date range), the 100 TB answer is Z-ORDER
# clustering: interleave the bits of both bucketed dimensions into one
# sort key, range-partition + sort files by it, and parquet footer
# min/max stats on BOTH raw columns become tight per file — a 2-D box
# predicate then skips most files (the technique behind Delta/Iceberg
# OPTIMIZE ZORDER, built here from plain Catalyst bit expressions).
# tests/test_scale_patterns.py measures the skip rate against a
# natural-order layout via the actual parquet footers.

ZORDER_BITS = 8  # 256 buckets/dim — widen for deeper key spaces at scale
ZORDER_CUST_DIV = 64  # bucket width in customer keys
ZORDER_DAY_DIV = 32  # bucket width in days
ZORDER_EPOCH = "1995-01-01"


def _morton16(c, d):
    """Interleave two ZORDER_BITS-bit bucket ids into one Z-value —
    pure shift/and/or Catalyst expressions, codegen'd per row."""
    z = F.lit(0)
    for i in range(ZORDER_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(d, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def zorder_keyed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with Z-order key columns (shared by the registry query and
    the clustering writer)."""
    orders = read_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"),
        F.lit(ZORDER_EPOCH).cast("date"),
    )
    mask = (1 << ZORDER_BITS) - 1
    cb = F.expr(f"(o_custkey div {ZORDER_CUST_DIV})").bitwiseAND(F.lit(mask))
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        day.cast("int").alias("day_num"),
        cb.cast("int").alias("cust_bucket"),
    ).withColumn(
        "day_bucket",
        F.expr(f"(day_num div {ZORDER_DAY_DIV})")
        .bitwiseAND(F.lit(mask))
        .cast("int"),
    ).withColumn(
        "zkey", _morton16(F.col("cust_bucket"), F.col("day_bucket")).cast("int")
    )


def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — the Z-order key projection itself, oracle-checked bit
    for bit (the clustering write is deterministic only up to file
    assignment, so the KEY is the hash-checked contract; the skip-rate
    benefit is measured in tests over real parquet footers)."""
    return zorder_keyed_orders(spark, sf_dir).select(
        "o_orderkey", "cust_bucket", "day_bucket", "zkey"
    )


def _zorder_morton_sql() -> str:
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(((cust_bucket >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((day_bucket >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


QUERIES["layout_zorder_key"] = layout_zorder_key

ORACLE["layout_zorder_key"] = (
    "WITH b AS (SELECT o_orderkey, "
    f"CAST((o_custkey // {ZORDER_CUST_DIV}) & {(1 << ZORDER_BITS) - 1} "
    "AS INT) AS cust_bucket, "
    f"CAST((date_diff('day', DATE '{ZORDER_EPOCH}', "
    f"CAST(o_orderdate AS DATE)) // {ZORDER_DAY_DIV}) "
    f"& {(1 << ZORDER_BITS) - 1} AS INT) AS day_bucket "
    "FROM orders) "
    "SELECT o_orderkey, cust_bucket, day_bucket, "
    f"CAST({_zorder_morton_sql()} AS INT) AS zkey FROM b"
)


# --- Small-file compaction: the OPTIMIZE-style maintenance rewrite ------
#
# Streaming ingest and fine-grained partitioning leave facts as thousands
# of KB-sized files; at 100 TB the scan cost is then dominated by file
# OPEN overhead (footer reads, scheduling one task per tiny split), not
# bytes. Compaction bin-packs them back to ~TARGET-byte files: read,
# range-repartition on the layout's sort key (keeps clustering, so footer
# min/max stay tight), write. tests/test_scale_patterns.py measures the
# file-count collapse on a deliberately fragmented copy.

COMPACT_TARGET_BYTES = 128 << 20  # the usual scan-optimal parquet size
_FRAGMENT_FILES = 64              # fixture-scale "ingest damage"


def _fragmented_orders(spark: SparkSession, sf_dir: str) -> str:
    d = derived_path(sf_dir, "orders_fragmented", ("orders",), _FRAGMENT_FILES)
    if not _built(d):
        (
            read_table(spark, sf_dir, "orders")
            .repartition(_FRAGMENT_FILES)
            .write.mode("overwrite")
            .parquet(d)
        )
    return d


def _compacted_orders(spark: SparkSession, sf_dir: str) -> str:
    frag = _fragmented_orders(spark, sf_dir)
    dst = derived_path(
        sf_dir, "orders_compacted", ("orders",), _FRAGMENT_FILES,
        COMPACT_TARGET_BYTES,
    )
    if not _built(dst):
        compact_parquet_dir(spark, frag, dst, "o_orderkey")
    return dst


def compact_parquet_dir(
    spark: SparkSession, src: str, dst: str, sort_col: str
) -> str:
    """Bin-pack ``src`` into ~COMPACT_TARGET_BYTES files at ``dst``,
    range-clustered by ``sort_col`` (one shuffle; footer stats on the
    sort key stay tight for data skipping)."""
    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    n_out = max(1, -(-total // COMPACT_TARGET_BYTES))  # ceil-div
    df = spark.read.parquet(src)
    (
        df.repartitionByRange(n_out, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(dst)
    )
    return dst


def layout_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — yearly totals off a COMPACTED copy of a deliberately
    fragmented orders layout: results are identical to the flat table by
    construction (the oracle reads the original parquet), which is the
    whole point — compaction is a physical rewrite, never a semantic
    change. The measured benefit (64 files -> ceil(bytes/128 MB)) lives
    in tests/test_scale_patterns.py."""
    orders = spark.read.parquet(_compacted_orders(spark, sf_dir))
    return (
        orders.groupBy(F.year("o_orderdate").cast("int").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(dsum("o_totalprice"), 4).alias("total"),
        )
        .orderBy("year")
    )


# --- ANALYZE-style column statistics: the CBO's food ---------------------
#
# The size-gated broadcast in tpch_q8 is a poor-man's CBO fed by file
# sizes; the real thing is fed by COLUMN stats — row count, null count,
# NDV, min/max — collected by ANALYZE TABLE ... COMPUTE STATISTICS FOR
# COLUMNS and stored in the catalog for join-strategy and cardinality
# estimates. This operator computes that stats profile as a query (one
# multi-distinct aggregate pass; at 100 TB you would swap the exact NDV
# for approx_count_distinct's mergeable HLL — the engine carries both,
# see agg_approx_count_distinct).

_STATS_COLS = ("o_orderkey", "o_custkey", "o_totalprice")


def table_stats_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column stats profile of ``orders`` (n_rows / n_nulls / exact
    NDV / min / max as DOUBLE) in long form, one row per column — the
    ANALYZE output an optimizer consumes. Exact NDV keeps the oracle
    hash-comparable; the documented scale path is the HLL sketch."""
    orders = read_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _STATS_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"ndv_{c}"),
            F.min(c).cast("double").alias(f"min_{c}"),
            F.max(c).cast("double").alias(f"max_{c}"),
        ]
    a = orders.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
                F.col(f"ndv_{c}").alias("ndv"),
                F.col(f"min_{c}").alias("min_val"),
                F.col(f"max_{c}").alias("max_val"),
            )
            for c in _STATS_COLS
        ]
    )
    return (
        a.select(F.explode(rows).alias("s"))
        .select("s.*")
        .orderBy("col_name")
    )


QUERIES["table_stats_collect"] = table_stats_collect

ORACLE["table_stats_collect"] = " UNION ALL ".join(
    f"(SELECT '{c}' AS col_name, COUNT(*) AS n_rows, "
    f"COUNT(*) - COUNT({c}) AS n_nulls, "
    f"COUNT(DISTINCT {c}) AS ndv, "
    f"CAST(MIN({c}) AS DOUBLE) AS min_val, "
    f"CAST(MAX({c}) AS DOUBLE) AS max_val FROM orders)"
    for c in _STATS_COLS
) + " ORDER BY col_name"


# --- CBO: ANALYZE-fed cost-based join decisions --------------------------
#
# table_stats_collect (above) computes the stats profile as a QUERY; this
# pair feeds the same stats to the OPTIMIZER through the real mechanism:
# ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS stores row count, NDV
# and min/max in the catalog, and with spark.sql.cbo.enabled the filter-
# cardinality estimate shrinks the dim side below the broadcast threshold
# — the decision the q8 file-stat gate approximates from the outside.
# tests/test_plans.py pins the flip: identical query + threshold, no
# stats → SortMergeJoin, ANALYZE'd stats + CBO → BroadcastHashJoin.

def _cbo_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Catalog copies of orders + customer with ANALYZE'd stats (once per
    source content, in the build: the stats live in the catalog entry
    built with the table); returns the table names. The column ANALYZE
    also stores the table-level row count."""
    names = []
    for table, stats in (
        ("orders", ""),
        ("customer", " FOR COLUMNS c_mktsegment, c_custkey"),
    ):
        path = derived_path(sf_dir, f"cbo_{table}", (table,))
        name = os.path.basename(path)
        names.append(name)
        if _table_built(spark, path):
            continue
        (
            read_table(spark, sf_dir, table)
            .write.mode("overwrite")
            .option("path", path)
            .saveAsTable(name)
        )
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS{stats}")
    return tuple(names)


def _cbo_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The demonstrator join: orders ⋈ (customer filtered to one market
    segment), per-segment totals — NO broadcast() hint anywhere; the
    plan decision belongs to the optimizer + stats."""
    o_name, c_name = _cbo_tables(spark, sf_dir)
    o = spark.table(o_name)
    c = spark.table(c_name).filter(F.col("c_mktsegment") == "BUILDING")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(dsum("o_totalprice"), 4).alias("total"),
        )
    )


def _filtered_dim_estimate(spark: SparkSession, c_name: str, cbo: bool) -> int:
    """The optimizer's OWN size estimate of the join's build side (the
    filtered + pruned customer subtree) under cbo on/off — exactly the
    number JoinSelection compares against the broadcast threshold."""
    prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true" if cbo else "false")
    try:
        side = (
            spark.table(c_name)
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey", "c_mktsegment")
        )
        return int(
            side._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)


def cbo_broadcast_threshold(spark: SparkSession, sf_dir: str) -> int:
    """The demonstration threshold: the midpoint of the optimizer's two
    estimates of the same build side — without CBO (size-only: file
    bytes scaled by projected column width, filter ignored) and with CBO
    (column-stats filter cardinality, ~1/5 for one market segment). Any
    threshold between them separates the regimes at any sf; deriving it
    from the estimates themselves avoids hardcoding either engine's
    width/compression arithmetic."""
    _, c_name = _cbo_tables(spark, sf_dir)
    lo = _filtered_dim_estimate(spark, c_name, cbo=True)
    hi = _filtered_dim_estimate(spark, c_name, cbo=False)
    return max(1, (lo + hi) // 2)


def join_cbo_stats_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — the stats-fed optimizer decision as a registry
    operator: under ``spark.sql.cbo.enabled`` with ANALYZE'd column
    stats, the filtered dim's estimated size drops below the (scoped,
    deliberately tight) broadcast threshold and the optimizer picks the
    broadcast join ON ITS OWN — no hint, no file-stat gate. The plan is
    materialized inside the conf scope (QueryExecution memoizes), so the
    later driver action runs the stats-driven plan; results are
    plan-independent and oracle-checked against the flat tables."""
    prev_cbo = spark.conf.get("spark.sql.cbo.enabled")
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    thr = cbo_broadcast_threshold(spark, sf_dir)  # before the conf scope
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(thr))
    try:
        df = _cbo_join_frame(spark, sf_dir)
        df._jdf.queryExecution().executedPlan()  # pin the plan in scope
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
    return df


QUERIES["join_cbo_stats_broadcast"] = join_cbo_stats_broadcast

ORACLE["join_cbo_stats_broadcast"] = (
    "SELECT c_mktsegment, COUNT(*) AS n_orders, "
    f"ROUND({dsum_sql('o_totalprice')}, 4) AS total "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "WHERE c_mktsegment = 'BUILDING' GROUP BY 1"
)


QUERIES["layout_compact_small_files"] = layout_compact_small_files

ORACLE["layout_compact_small_files"] = (
    "SELECT CAST(year(o_orderdate) AS INT) AS year, "
    "COUNT(*) AS n_orders, "
    f"ROUND({dsum_sql('o_totalprice')}, 4) AS total "
    "FROM orders GROUP BY 1 ORDER BY 1"
)


def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (``mergeSchema``): a table directory whose
    older files LACK a column the newer files carry — the standard
    lakehouse situation after an additive schema change. Built once per
    ``orders`` content: pre-1996 order files without ``o_priority_flag``,
    1996+ files with it. The merged scan surfaces the missing column as
    NULL for old files, and the per-year aggregate proves exactly which
    rows carried it. Scale note: schema merging reads FOOTERS only
    (one reconciliation pass over file metadata), the data path is the
    ordinary columnar scan — the cost is per-file, not per-row.

    Oracle: the evolved column derives deterministically from the base
    table (flag = high-value order, 1996+ only), so DuckDB reproduces
    the merged result straight from ``orders`` — no derived files leak
    into the oracle."""
    d = derived_path(sf_dir, "orders_evolved", ("orders",))
    # v2 is written last, so its _SUCCESS marks the whole build
    if not _built(os.path.join(d, "v2")):
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", F.year("o_orderdate").alias("o_year")
        )
        old = orders.filter(F.col("o_year") < 1996)
        new = orders.filter(F.col("o_year") >= 1996).withColumn(
            "o_priority_flag", (F.col("o_totalprice") > 200_000.0).cast("int")
        )
        old.write.mode("overwrite").parquet(os.path.join(d, "v1"))
        new.write.mode("overwrite").parquet(os.path.join(d, "v2"))
    # per-side footer check: an empty slice writes only _SUCCESS, and a
    # v2-empty source would otherwise merge to a schema WITHOUT the
    # evolved column (count/sum on it fails analysis)
    srcs = [
        os.path.join(d, sub)
        for sub in ("v1", "v2")
        if any(
            f.endswith(".parquet")
            for f in os.listdir(os.path.join(d, sub))
        )
    ]
    if srcs:
        merged = spark.read.option("mergeSchema", "true").parquet(*srcs)
        if "o_priority_flag" not in merged.columns:
            merged = merged.withColumn(
                "o_priority_flag", F.lit(None).cast("int")
            )
    else:  # fully empty source: no footers to merge at all
        merged = spark.createDataFrame(
            [], "o_orderkey long, o_totalprice double, o_year int, "
            "o_priority_flag int"
        )
    return (
        merged.groupBy(F.col("o_year").cast("int").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_priority_flag").alias("n_with_flag"),
            F.sum("o_priority_flag").alias("n_flagged"),
        )
        .orderBy("year")
    )


def layout_partition_overwrite_dynamic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill primitive: a
    year-partitioned table gets ONE year's partition replaced by a
    revised slice, and only that directory is touched (static overwrite
    mode would drop every other partition). Each invocation stages its
    own copy (uuid dir), writes the initial layout, then overwrites
    1997 with the high-value subset under
    ``partitionOverwriteMode=dynamic``; the final per-year aggregate
    proves 1997 shrank while every other year is bit-identical. At
    scale this is the nightly-restatement pattern: the write plans one
    task set for the NEW data only, never rewrites the table."""
    d = scratch_path("overwrite_demo")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.year("o_orderdate").alias("o_year")
    )
    orders.write.partitionBy("o_year").mode("overwrite").parquet(d)
    revised = orders.filter(
        (F.col("o_year") == 1997) & (F.col("o_totalprice") > 150_000.0)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        revised.write.partitionBy("o_year").mode("overwrite").parquet(d)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # explicit schema: an empty source writes only _SUCCESS (no footers)
    # and inference on that raises — same failure mode partitioned_orders
    # documents
    return (
        spark.read.schema("o_orderkey long, o_totalprice double, o_year int")
        .parquet(d)
        .groupBy(F.col("o_year").cast("int").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(dsum("o_totalprice"), 4).alias("total"),
        )
        .orderBy("year")
    )


QUERIES["scan_schema_evolution"] = scan_schema_evolution
QUERIES["layout_partition_overwrite_dynamic"] = layout_partition_overwrite_dynamic

ORACLE["scan_schema_evolution"] = (
    # inner CASE carries an ELSE 0 so an all-unflagged 1996+ year sums
    # to 0 (as Spark's int column does), while pre-1996 years stay NULL
    "SELECT CAST(year(o_orderdate) AS INT) AS year, COUNT(*) AS n_rows, "
    "CAST(SUM(CASE WHEN year(o_orderdate) >= 1996 THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_with_flag, "
    "CAST(SUM(CASE WHEN year(o_orderdate) >= 1996 THEN "
    "CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END END) "
    "AS BIGINT) AS n_flagged "
    "FROM orders GROUP BY 1 ORDER BY 1"
)

ORACLE["layout_partition_overwrite_dynamic"] = (
    # dynamic overwrite only rewrites partitions PRESENT in the new
    # data: if no 1997 row qualifies, the write is a no-op and the old
    # partition survives — the NOT EXISTS arm mirrors that semantic
    "SELECT CAST(year(o_orderdate) AS INT) AS year, COUNT(*) AS n_rows, "
    f"ROUND({dsum_sql('o_totalprice')}, 4) AS total FROM orders "
    "WHERE year(o_orderdate) <> 1997 OR o_totalprice > 150000.0 "
    "OR NOT EXISTS (SELECT 1 FROM orders "
    "WHERE year(o_orderdate) = 1997 AND o_totalprice > 150000.0) "
    "GROUP BY 1 ORDER BY 1"
)


# --- at-rest clustered events layout: exchange-free sessionization ----------

EVENTS_N_BUCKETS = 32


def _events_user_bucketed_table(spark: SparkSession, sf_dir: str) -> str:
    """Write events (user_id, ts) bucketed AND sorted by (user_id, ts)
    as an external table (once per session + source content) — the
    at-rest layout for every per-user timeline operator (sessionize,
    attribution, markov, stateful profiles): the window's
    ClusteredDistribution(user_id) is satisfied straight off the scan,
    so the per-query exchange of the whole events table disappears.
    Same write-once/read-many economics as `_q8_bucketed_tables`
    (prep cost reported by bench, never hidden)."""
    # round 13: the table carries the FULL per-user timeline payload
    # (event_id/event_type/value joined the original user_id/ts pair) and
    # sorts by (user_id, ts, event_id), so every timeline operator shares
    # ONE at-rest layout: sessionize needs the (user_id, ts) prefix — a
    # longer at-rest sort still satisfies it — and the CEP pattern match
    # needs the full (user_id, ts, event_id) order. Parquet column
    # pruning keeps sessionize's scan at 2 columns; the extra columns
    # cost nothing to readers that don't project them. The column tuple
    # is part of the signature so pre-round-13 memoized tables restage.
    cols = ("user_id", "ts", "event_id", "event_type", "value")
    path = derived_path(
        sf_dir, "userbkt_events", ("events",), EVENTS_N_BUCKETS, cols
    )
    name = os.path.basename(path)
    if _table_built(spark, path):
        return name
    (
        read_table(spark, sf_dir, "events")
        .select(*cols)
        # one sorted file per bucket (see _q8_bucketed_tables): route by
        # the same hash first so the at-rest sort survives the read and
        # the window needs neither exchange NOR full sort
        .repartition(EVENTS_N_BUCKETS, F.col("user_id"))
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(EVENTS_N_BUCKETS, "user_id")
        .sortBy("user_id", "ts", "event_id")
        .saveAsTable(name)
    )
    return name


def sessionize_batch_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — sessionization off the user-clustered at-rest
    layout: identical gaps-and-islands logic (and oracle) as
    `custom_udf.sessionize_batch`, but the events scan is bucketed by
    user_id and pre-sorted by (user_id, ts), so the plan carries ZERO
    exchanges — the 30x/100x sessionize ratio's remaining cost is the
    shuffle+sort this layout retires (bench tracks both variants).
    Layout is physical, never semantic: byte-identical output."""
    from .custom_udf import _sessionize_events

    name = _events_user_bucketed_table(spark, sf_dir)
    # explicit 2-column projection: the shared at-rest table carries the
    # full timeline payload since round 13, and _sessionize_events
    # withColumns over whatever it's given — project first so the scan
    # prunes to (user_id, ts) and nothing extra rides the window buffers
    return _sessionize_events(spark.table(name).select("user_id", "ts"))


def events_pattern_match_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """North-star — the `view (click)* purchase` CEP window stack
    (`analytics.events_pattern_match`) off the user-clustered at-rest
    layout: the scan arrives bucketed by user_id and pre-sorted by
    (user_id, ts, event_id) — exactly the window's required
    distribution AND ordering — so the plan carries ZERO exchanges and
    ZERO sorts before the window frames (the flat-scan twin's 100x cost
    is precisely this shuffle+sort of the whole events table; bench
    tracks both variants). Layout is physical, never semantic:
    byte-identical output, the flat-scan oracle serves both."""
    from .analytics import _pattern_match_events

    name = _events_user_bucketed_table(spark, sf_dir)
    return _pattern_match_events(spark.table(name))


QUERIES["sessionize_batch_clustered"] = sessionize_batch_clustered
QUERIES["events_pattern_match_clustered"] = events_pattern_match_clustered

# byte-identical contract with the flat-scan twins: the ONE oracle SQL
# serves both physical layouts (layout is physical, never semantic)
from .analytics import ORACLE as _ANALYTICS_ORACLE  # noqa: E402
from .custom_udf import ORACLE as _UDF_ORACLE  # noqa: E402

ORACLE["sessionize_batch_clustered"] = _UDF_ORACLE["sessionize_batch"]
ORACLE["events_pattern_match_clustered"] = _ANALYTICS_ORACLE[
    "events_pattern_match"
]
