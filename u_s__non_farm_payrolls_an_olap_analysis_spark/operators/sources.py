"""Source/sink operators (SURVEY §2 S1, S3).

S1 — ``source_api_extract``: the reference pulls the FRED ``PAYEMS`` series
over HTTPS (``etl.py:22-25``), renames/casts/derives/drops-null
(``etl.py:34-38``). Here the extract runs through the registered PySpark 4
Python DataSource (``sources/fred_datasource.py``): the engine plans one
input partition per API page (year) and each executor task fetches its
page — the at-scale extract design SURVEY §1.4 names. The deterministic
offline fetch function below stands in for the HTTPS call (no network in
this environment) and is shared with the oracle (inlined as VALUES), so
the DataSource path is hash-checked end to end; the transform chain is
pure Catalyst expressions.

S3 — ``sink_jdbc_upsert``: the merge half of the reference's row-at-a-time
``INSERT ... ON CONFLICT (date) DO UPDATE`` loop (``etl.py:57-73``),
expressed as the distributed keyed merge from ``io.upsert_by_key`` (union +
row_number, one shuffle). The registry query exercises the merge semantics
pure-functionally (updates beat target, inserts appear); the physical write
path is covered by ``io.write_upsert_parquet`` tests.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.derived import scratch_path
from ..functions.numerics import descale, dround
from ..functions.ranks import top_k
from ..functions.timeparts import month_of, monthly_partials, pct_change, year_of
from ..io import read_table, upsert_by_key

N_MONTHS = 72  # 6 years of monthly observations


def fake_fred_payems(n_months: int = N_MONTHS) -> list[tuple[dt.date, int]]:
    """Deterministic offline stand-in for the FRED client (`etl.py:22-24`):
    a monthly employment-like series with trend, seasonality-ish wiggle and
    one COVID-shaped crash + recovery. Pure integer arithmetic → identical
    in the SQL VALUES oracle."""
    out = []
    for i in range(n_months):
        y, m = divmod(i, 12)
        base = 130_000 + 400 * i + (i * i) % 7 * 50
        if i == 14:
            base -= 22_000  # crash month
        elif 15 <= i <= 20:
            base -= 22_000 - (i - 14) * 3_500  # staged recovery
        out.append((dt.date(2019 + y, m + 1, 1), base))
    return out


def source_api_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — extract → transform, the full `etl.py` pipeline:
    series→table (`etl.py:25`), rename (`etl.py:34`), int cast
    (`etl.py:35`), lag pct-change (`etl.py:37`), dropna (`etl.py:38`).

    The extract runs through the registered PySpark 4 Python DataSource
    (``sources/fred_datasource.py``, SURVEY §1.4's at-scale design): one
    input partition per API page (year), fetched executor-side — not a
    driver-built ``createDataFrame`` batch — so a thousand series × fifty
    years fans out across the cluster. The offline fetch function is the
    same deterministic series the VALUES oracle inlines, so the DataSource
    path itself is hash-checked."""
    from ..sources.fred_datasource import FredSeriesDataSource

    spark.dataSource.register(FredSeriesDataSource)  # idempotent re-register
    raw = (
        spark.read.format("fred_series")
        .option("start_year", 2019)
        .option("end_year", 2024)
        .load()
    )
    w = Window.orderBy("date")
    df = raw.select(
        F.col("date").cast("timestamp").alias("date"),
        F.col("value").cast("int").alias("total_payroll_employment"),
    ).withColumn(
        "mom_pct_change",
        F.round(pct_change(F.col("total_payroll_employment").cast("double"), w), 6),
    )
    return df.na.drop()


def _source_oracle_sql() -> str:
    values = ", ".join(
        f"(TIMESTAMP '{d.isoformat()}', {v})" for d, v in fake_fred_payems()
    )
    return (
        f"WITH raw(date, value) AS (VALUES {values}), "
        "t AS (SELECT date, CAST(value AS INT) AS total_payroll_employment "
        "FROM raw) "
        "SELECT date, total_payroll_employment, "
        "ROUND((CAST(total_payroll_employment AS DOUBLE) "
        "- LAG(CAST(total_payroll_employment AS DOUBLE)) OVER (ORDER BY date)) "
        "* 100.0 / LAG(CAST(total_payroll_employment AS DOUBLE)) "
        "OVER (ORDER BY date), 6) AS mom_pct_change "
        "FROM t QUALIFY mom_pct_change IS NOT NULL"
    )


def source_api_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-streaming — the API series as a LIVE FEED through the Python
    DataSource's STREAM reader (``fred_datasource.FredSeriesStreamReader``):
    one API page (year) per micro-batch, offsets owned by the streaming
    checkpoint, so a production poller restarted mid-series resumes after
    its last committed page instead of refetching (the reference's
    "refresh" is a full rerun of ``etl.py:85-89``). The drain runs the
    query until the source reports caught-up (``processAllAvailable`` —
    the feed has no end, unlike the file streams' ``availableNow``),
    then returns the accumulated series; exactly-once per page comes
    from offset tracking, checked by the resume test in
    tests/test_custom_source_stateful.py."""
    from ..sources.fred_datasource import FredSeriesDataSource
    from ..streaming.stream_windows import _drain_to_memory

    spark.dataSource.register(FredSeriesDataSource)  # idempotent re-register
    out = _drain_to_memory(
        spark.readStream.format("fred_series").load(),
        spark,
        output_mode="append",
        drain="process_all",
        checkpoint=scratch_path("fred_ckpt"),
    )
    return out.select(
        F.col("date").cast("timestamp").alias("date"), "value"
    ).orderBy("date")


def sink_jdbc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — keyed merge semantics: 10% of orders arrive as updates with a
    bumped price plus two synthetic inserts; updates win per key."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 1.1).alias("o_totalprice")
    )
    inserts = spark.createDataFrame(
        [(10_000_001, 111.11), (10_000_002, 222.22)],
        "o_orderkey long, o_totalprice double",
    )
    merged = upsert_by_key(orders, updates.unionByName(inserts), ["o_orderkey"])
    return merged.select(
        "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: fold an insert/update/delete change log into final
    table state — the ``APPLY CHANGES INTO`` shape of Delta-class
    pipelines, and the general form of the reference's upsert (which has
    no deletes). Deterministic change feed synthesized from orders:
    every order arrives as an INSERT at seq 0, every 10th key gets a
    +10% price UPDATE at seq 1, every 97th a DELETE tombstone at seq 2.

    Apply = one shuffle on the key: rank by sequence number descending,
    keep the latest row per key, drop keys whose latest op is the
    tombstone. Exactly the scalable MERGE shape — per-row ON CONFLICT
    loops (the reference) or per-op table rewrites would be O(ops)
    passes; this is one."""
    log = _orders_change_log(spark, sf_dir)
    return _fold_change_log(log)


def _orders_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic synthetic CDC feed shared by ``cdc_apply_changes``
    and ``cdc_read_asof`` (columns: key, price, op, seq)."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    # per-ROW rounding over a scan-sized projection -> dround (rule 2):
    # FP ties-away matches DuckDB ROUND bitwise where F.round's
    # BigDecimal path can diverge on rendered 4-dp ties
    inserts = orders.select(
        "o_orderkey",
        dround("o_totalprice", 4).alias("price"),
        F.lit("I").alias("op"),
        F.lit(0).alias("seq"),
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        dround(F.col("o_totalprice") * 1.1, 4).alias("price"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("price"),
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
    )
    return inserts.unionByName(updates).unionByName(deletes)


def _fold_change_log(log: DataFrame) -> DataFrame:
    """Latest-per-key fold with tombstone drop: one shuffle on the key."""
    return (
        top_k(log, "o_orderkey", 1, F.col("seq").desc())
        .filter(F.col("op") != "D")
        .select("o_orderkey", F.col("price").alias("o_totalprice"))
        .orderBy("o_orderkey")
    )


CDC_ASOF_SEQ = 1  # updates applied, deletes not yet


def cdc_read_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the change log: table state AS OF sequence
    number ``CDC_ASOF_SEQ`` — the ``VERSION AS OF`` read of Delta-class
    formats, expressed as the general log-structured identity
    ``state(v) = fold(log WHERE seq <= v)``. Same one-shuffle fold as
    ``cdc_apply_changes``; the version predicate is a sargable filter
    that at scale prunes whole log segments before the fold. Here
    ``asof = 1`` means the price updates are visible but the seq-2
    delete tombstones have not happened yet — the deleted-at-seq-2 keys
    are still present, which is exactly what distinguishes the
    time-travel read from the current-state read."""
    log = _orders_change_log(spark, sf_dir).filter(
        F.col("seq") <= CDC_ASOF_SEQ
    )
    return _fold_change_log(log)


def scd2_history_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history merge without a table format: the MERGE INTO
    emulation (union + lead window) the engine uses where Delta/Iceberg
    jars are absent. The reference's upsert (`etl.py:68-71`) is SCD1 —
    last write wins, history destroyed; SCD2 keeps every version with
    validity intervals.

    Change batch (deterministic stand-in for a CDC feed): every 10th
    customer gets a +10% account-balance revision effective 2000-01-01.
    One shuffle on the dimension key; ``lead`` closes each version at the
    next version's start. Current rows carry the open-ended 2100-01-01
    sentinel (NULL would be semantically cleaner but sorts differently
    across engines)."""
    cust = read_table(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey",
        F.round("c_acctbal", 4).alias("acctbal"),
        F.lit("1995-01-01").cast("timestamp_ntz").alias("valid_from"),
    )
    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 1.1, 4).alias("acctbal"),
        F.lit("2000-01-01").cast("timestamp_ntz").alias("valid_from"),
    )
    hist = base.unionByName(updates)
    w = Window.partitionBy("c_custkey").orderBy("valid_from")
    closed = hist.withColumn(
        "valid_to",
        F.coalesce(
            F.lead("valid_from").over(w),
            F.lit("2100-01-01").cast("timestamp_ntz"),
        ),
    )
    return closed.withColumn(
        "is_current",
        (F.col("valid_to") == F.lit("2100-01-01").cast("timestamp_ntz")).cast(
            "int"
        ),
    )


QUERIES = {
    "scd2_history_merge": scd2_history_merge,
    "cdc_apply_changes": cdc_apply_changes,
    "source_api_extract": source_api_extract,
    "sink_jdbc_upsert": sink_jdbc_upsert,
    "source_api_stream": source_api_stream,
    "cdc_read_asof": cdc_read_asof,
}

ORACLE = {
    "cdc_apply_changes": (
        "WITH log AS ("
        "SELECT o_orderkey, ROUND(o_totalprice, 4) AS price, "
        "'I' AS op, 0 AS seq FROM orders "
        "UNION ALL "
        "SELECT o_orderkey, ROUND(o_totalprice * 1.1, 4), 'U', 1 "
        "FROM orders WHERE o_orderkey % 10 = 0 "
        "UNION ALL "
        "SELECT o_orderkey, CAST(NULL AS DOUBLE), 'D', 2 "
        "FROM orders WHERE o_orderkey % 97 = 0), "
        "r AS (SELECT o_orderkey, price, op, "
        "ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) "
        "AS rn FROM log) "
        "SELECT o_orderkey, price AS o_totalprice FROM r "
        "WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey"
    ),
    "cdc_read_asof": (
        "WITH log AS ("
        "SELECT o_orderkey, ROUND(o_totalprice, 4) AS price, "
        "'I' AS op, 0 AS seq FROM orders "
        "UNION ALL "
        "SELECT o_orderkey, ROUND(o_totalprice * 1.1, 4), 'U', 1 "
        "FROM orders WHERE o_orderkey % 10 = 0 "
        "UNION ALL "
        "SELECT o_orderkey, CAST(NULL AS DOUBLE), 'D', 2 "
        "FROM orders WHERE o_orderkey % 97 = 0), "
        # "asof" is a DuckDB reserved word (ASOF JOIN) — name the CTE upto
        f"upto AS (SELECT * FROM log WHERE seq <= {CDC_ASOF_SEQ}), "
        "r AS (SELECT o_orderkey, price, op, "
        "ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) "
        "AS rn FROM upto) "
        "SELECT o_orderkey, price AS o_totalprice FROM r "
        "WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey"
    ),
    "scd2_history_merge": (
        "WITH hist AS ("
        "SELECT c_custkey, ROUND(c_acctbal, 4) AS acctbal, "
        "TIMESTAMP '1995-01-01' AS valid_from FROM customer "
        "UNION ALL "
        "SELECT c_custkey, ROUND(c_acctbal * 1.1, 4) AS acctbal, "
        "TIMESTAMP '2000-01-01' AS valid_from FROM customer "
        "WHERE c_custkey % 10 = 0) "
        "SELECT c_custkey, acctbal, valid_from, "
        "COALESCE(LEAD(valid_from) OVER (PARTITION BY c_custkey "
        "ORDER BY valid_from), TIMESTAMP '2100-01-01') AS valid_to, "
        "CAST(COALESCE(LEAD(valid_from) OVER (PARTITION BY c_custkey "
        "ORDER BY valid_from), TIMESTAMP '2100-01-01') = "
        "TIMESTAMP '2100-01-01' AS INT) AS is_current "
        "FROM hist"
    ),
    "source_api_extract": _source_oracle_sql(),
    # the stream drains the SAME deterministic series the VALUES inline —
    # the hash check covers the stream-reader path end to end
    "source_api_stream": (
        "WITH raw(date, value) AS (VALUES "
        + ", ".join(
            f"(TIMESTAMP '{d.isoformat()}', {v})"
            for d, v in fake_fred_payems()
        )
        + ") SELECT date, CAST(value AS BIGINT) AS value FROM raw "
        "ORDER BY date"
    ),
    "sink_jdbc_upsert": (
        "WITH u AS (SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice "
        "FROM orders WHERE o_orderkey % 10 = 0 "
        "UNION ALL VALUES (10000001, 111.11), (10000002, 222.22)) "
        "SELECT COALESCE(u.o_orderkey, o.o_orderkey) AS o_orderkey, "
        "ROUND(COALESCE(u.o_totalprice, o.o_totalprice), 4) AS o_totalprice "
        "FROM (SELECT o_orderkey, o_totalprice FROM orders) o "
        "FULL OUTER JOIN u ON o.o_orderkey = u.o_orderkey"
    ),
}


def _sink_dir() -> str:
    """A fresh, existing sink root per invocation (the committed-manifest
    read-back needs the directory even when no task wrote a part)."""
    d = scratch_path("pyds_sink")
    os.makedirs(d)
    return d


def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 via the PySpark 4 DataSource WRITER API — the monthly payroll
    table (the reference's final load target, ``etl.py:48-73``) written
    through the registered ``json_dir_sink`` with a real two-phase
    commit: tasks stage their partition files and return commit
    messages, the driver promotes them and atomically publishes a
    manifest, and the read-back trusts ONLY the manifest (see
    ``sources/table_sink.py``). Completes the custom-connector family:
    batch read (``source_api_extract``), streaming read
    (``source_api_stream``), batch write (this), JDBC upsert write
    (``sink_jdbc_upsert``).

    The returned DataFrame is the ROUND-TRIPPED table — written through
    the sink, read back from the committed parts — so the oracle check
    proves write-path fidelity end to end, not just the aggregate."""
    from ..sources.table_sink import JsonDirSinkDataSource, committed_files

    spark.dataSource.register(JsonDirSinkDataSource)  # idempotent
    monthly = monthly_partials(read_table(spark, sf_dir, "orders")).select(
        year_of("ms").alias("year"),
        month_of("ms").alias("month"),
        descale("total_scaled").alias("total_payroll"),
    )
    path = _sink_dir()
    (
        monthly.write.format("json_dir_sink")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    schema = "year int, month int, total_payroll double"
    files = committed_files(path)
    if not files:  # empty fixture: nothing committed, empty typed frame
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files).orderBy("year", "month")


QUERIES["sink_python_datasource"] = sink_python_datasource

from ..functions.numerics import dsum_sql as _dsum_sql  # noqa: E402

ORACLE["sink_python_datasource"] = (
    "SELECT CAST(year(o_orderdate) AS INT) AS year, "
    "CAST(month(o_orderdate) AS INT) AS month, "
    f"ROUND({_dsum_sql('o_totalprice')}, 4) AS total_payroll "
    "FROM orders GROUP BY 1, 2 ORDER BY 1, 2"
)


def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**CSV format round-trip**: write a 3-column orders projection as
    headered CSV (the interchange format every BI export still speaks;
    `etl.py`'s FRED pull is CSV-shaped at heart), read it back with an
    EXPLICIT schema (no inference — the 100 TB discipline: schema
    inference is a full extra pass), and aggregate the round-tripped
    frame per year. The returned frame is the READ-BACK aggregate, so
    the oracle check (same aggregate straight off the parquet) proves
    write→parse fidelity end to end — doubles survive because Spark's
    CSV writer emits the shortest round-trippable decimal and the
    reader parses it to the identical IEEE value.

    Completes the source-format family: parquet scans, the Python
    DataSource API (`source_api_extract`), JSON sink round-trip
    (`sink_python_datasource`), env-gated avro, and now CSV.

    Scale: one projected write, one schema-pinned read, one map-side
    combinable rollup — all format work, no extra shuffles."""
    from ..functions.numerics import dsum

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("year"),
        "o_totalprice",
    )
    path = _sink_dir()
    orders.write.mode("overwrite").option("header", "true").csv(path)
    back = (
        spark.read.schema("o_orderkey long, year int, o_totalprice double")
        .option("header", "true")
        .csv(path)
    )
    return (
        back.groupBy("year")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.countDistinct("o_orderkey").alias("n_keys"),
            F.round(dsum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("year")
    )


QUERIES["source_csv_roundtrip"] = source_csv_roundtrip

ORACLE["source_csv_roundtrip"] = (
    "SELECT CAST(year(o_orderdate) AS INT) AS year, "
    "CAST(COUNT(*) AS BIGINT) AS n_orders, "
    "CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys, "
    f"ROUND({_dsum_sql('o_totalprice')}, 4) AS total_price "
    "FROM orders GROUP BY 1 ORDER BY 1"
)


_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
_JDBC_REVISION = 777  # deterministic stand-in for a FRED data revision


def sink_jdbc_roundtrip_derby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Live JDBC round-trip** — the literal ``df.write.jdbc`` connector
    path of the reference's load stage (``etl.py:48-73``), exercised
    end-to-end against a real embedded Derby database (the JDBC engine
    Spark ships for its Hive metastore), not a simulation:

    1. the first 48 months of the deterministic payroll series are
       written through ``DataFrameWriter.jdbc`` (Spark issues the DDL +
       batched INSERTs over the wire — the distributed form of the
       reference's row-at-a-time psycopg2 loop);
    2. a revision batch (months 37-72, values bumped like a FRED
       restatement) is MERGED with ``INSERT ... ON CONFLICT DO UPDATE``
       semantics: read-back → ``io.upsert_by_key`` (one shuffle,
       last-writer-wins) → overwrite — the scalable upsert for JDBC
       targets without MERGE support (SURVEY §1.4);
    3. the returned frame is the READ-BACK final table, so the oracle
       hash proves type + value fidelity through two JDBC writes and
       two JDBC reads.

    The read-back before the overwrite is eagerly materialized
    (``localCheckpoint``) — Spark JDBC reads are lazy, and overwriting
    the table a pending scan still points at would race the drop.

    Scale posture: JDBC writes parallelize per partition (each task
    holds one connection, ``batchsize`` rows per round trip); reads
    parallelize with partitionColumn bounds. The 72-row fixture keeps
    one partition; the path is the same one a warehouse-sized extract
    uses. Derby is embedded (same JVM) so the round trip has no network
    dependency in this sandbox; against PostgreSQL only the url/driver
    options change.
    """
    months = fake_fred_payems()
    snapshot = [(d.year, d.month, v) for d, v in months[:48]]
    revisions = [
        (d.year, d.month, v + _JDBC_REVISION) for d, v in months[36:]
    ]
    schema = "year int, month int, employment int"
    db = _sink_dir() + "/derby_db"
    url = f"jdbc:derby:{db};create=true"
    opts = {"url": url, "driver": _DERBY_DRIVER, "dbtable": "nonfarm_payrolls"}

    def _write(df: DataFrame) -> None:
        w = df.write.format("jdbc").mode("overwrite")
        for k, v in opts.items():
            w = w.option(k, v)
        w.save()

    def _read() -> DataFrame:
        r = spark.read.format("jdbc")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    _write(spark.createDataFrame(snapshot, schema))
    current = _read().localCheckpoint(eager=True)
    merged = upsert_by_key(
        current,
        spark.createDataFrame(revisions, schema),
        ["year", "month"],
    ).localCheckpoint(eager=True)
    _write(merged)
    return _read().orderBy("year", "month")


QUERIES["sink_jdbc_roundtrip_derby"] = sink_jdbc_roundtrip_derby

# expected final table, computed by the same deterministic arithmetic the
# operator feeds through the JDBC wire: months 1-36 original, 37-72 revised
_JDBC_EXPECTED = [
    (d.year, d.month, v)
    for d, v in fake_fred_payems()[:36]
] + [
    (d.year, d.month, v + _JDBC_REVISION)
    for d, v in fake_fred_payems()[36:]
]

ORACLE["sink_jdbc_roundtrip_derby"] = (
    "SELECT CAST(year AS INT) AS year, CAST(month AS INT) AS month, "
    "CAST(employment AS INT) AS employment FROM (VALUES "
    + ", ".join(f"({y}, {m}, {v})" for y, m, v in _JDBC_EXPECTED)
    + ") AS t(year, month, employment) ORDER BY year, month"
)
