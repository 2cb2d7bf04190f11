"""Table IO: columnar Parquet scans plus a keyed-upsert writer.

Replaces the reference's storage layer wholesale:

- ``SELECT * FROM nonfarm_payrolls`` via ``pd.read_sql``
  (``dashboard_nfp.py:67-68``, no pushdown of any kind) becomes
  ``spark.read.parquet`` — columnar, with Catalyst predicate pushdown and
  column pruning reaching the scan for free.
- The row-at-a-time ``INSERT ... ON CONFLICT (date) DO UPDATE`` loop
  (``etl.py:57-73``, one network round-trip per row) becomes a distributed
  keyed merge: dedup-by-key with ``row_number`` then a single batch write.

At 100 TB the same functions apply unchanged: Parquet scans partition-prune
on directory layout, and the upsert writer's window shuffle partitions by the
merge key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.ranks import top_k

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Source-relation memo: repeated queries over the same immutable table reuse
# one analyzed relation instead of re-listing files and re-reading footers on
# every call (100-300 ms per spark.read.parquet — the dominant cost of small
# warm queries). The test fixtures are read-only; a mutable deployment would
# call clear_table_cache() after writes. Keyed by applicationId (stable and
# unique per session) — id(spark) could be reused by a new session after GC
# and hand back a DataFrame bound to a stopped context.
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def clear_table_cache() -> None:
    _TABLE_MEMO.clear()
    # memoized operator plans reference the old relations — drop them too
    from .functions.plan_cache import clear_plan_memo

    clear_plan_memo()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one star-schema table (SURVEY §2 S2 `scan_table`).

    The ``events`` table stores ``ts`` as a NANOS parquet timestamp, which
    Spark's vectorized reader rejects (``PARQUET_TYPE_ILLEGAL``). We read
    nanos as raw longs (dynamic SQL conf, so it also works under a session
    we didn't build) and convert to a microsecond TIMESTAMP_NTZ with
    integer division — ``div`` keeps the arithmetic in int64 (ns epochs
    exceed double's 2^53 exact range) and floors exactly like DuckDB's
    ns→us conversion. The epoch→NTZ step is interval arithmetic
    (:func:`~.functions.timeparts.ntz_from_epoch_micros`), NOT an
    instant cast, so the decode is identical under any session timezone
    (the driver's plain session doesn't pin UTC) — both fixture
    encodings always yield the same naive walls DuckDB sees.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    memo = _TABLE_MEMO.get(key)
    if memo is not None:
        return memo
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            from .functions.timeparts import ntz_from_epoch_micros

            df = df.withColumn("ts", ntz_from_epoch_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _TABLE_MEMO[key] = df
    return df


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet size of one table — driver-side file stats only
    (same O(#files) listing Spark itself performs; no footer or data
    read). The cheap size signal for size-gated plan decisions (a
    poor-man's CBO): operators may broadcast a *derived* relation only
    when its base table is provably small, so the hint self-disables at
    scale. The gate itself is :func:`broadcastable`."""
    return _path_bytes(f"{sf_dir}/{name}.parquet")


def broadcastable(sf_dir: str, name: str) -> bool:
    """The one size gate for hint-broadcasting a relation derived from
    table ``name``: its on-disk parquet is at most 256 MiB, so the
    derived relation stays well under executor memory and the hint
    self-disables at scale (past it, joins degrade to the shuffled forms
    AQE manages)."""
    return table_bytes(sf_dir, name) <= 256 << 20


def _path_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def cache_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
    target_partition_bytes: int = 1 << 20,
    max_partitions: int = 32,
) -> dict[str, DataFrame]:
    """Materialize the star schema into executor cache (warm-input posture).

    Each table is repartitioned so cached partitions are ~``target`` bytes
    before caching: the fixture files are single parquet row groups, so
    without an explicit repartition only ONE task would scan each table no
    matter how many input splits Spark makes (a row group is the minimum
    read unit). Partition counts derive from file size, so the same call is
    correct at any scale factor; at 100 TB inputs arrive as many files and
    this helper is unnecessary (but harmless — sizes are measured, not
    assumed).

    The memo table is updated so every subsequent ``read_table`` (hence
    every registry operator) transparently reuses the cached frames.
    Call :func:`clear_table_cache` + ``spark.catalog.clearCache()`` to undo.
    """
    # operator plans memoized against the pre-cache relations must rebuild
    from .functions.plan_cache import clear_plan_memo

    clear_plan_memo()
    out: dict[str, DataFrame] = {}
    for t in tables:
        size = _path_bytes(f"{sf_dir}/{t}.parquet")
        n = int(max(1, min(max_partitions, size // target_partition_bytes)))
        df = read_table(spark, sf_dir, t).repartition(n).cache()
        df.count()  # materialize now — keeps cache fill out of query timings
        _TABLE_MEMO[(spark.sparkContext.applicationId, sf_dir, t)] = df
        out[t] = df
    return out


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table; lazy — nothing is read until an action runs."""
    return {t: read_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for ``spark.sql`` entry points."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def upsert_by_key(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """Keyed merge with last-writer-wins semantics (SURVEY §2 S3).

    Semantics of ``INSERT ... ON CONFLICT (key) DO UPDATE`` (``etl.py:68-71``)
    expressed as one distributed pass: tag each side with a priority, union,
    keep the highest-priority row per key via a ``row_number`` window. The
    window shuffles once on the merge key — the scalable shape (vs. the
    reference's per-row round trips).

    ``order_col`` optionally breaks ties *within* the updates side (e.g. an
    ingestion timestamp) and is then trusted as the sole deterministic
    order. Without it, duplicate update keys are tie-broken by the
    orderable payload columns (map-typed columns are skipped — Spark maps
    are not orderable) so the winner is stable across runs/partitionings.
    """
    from pyspark.sql.types import MapType

    tagged = updates.withColumn("__prio", F.lit(1)).unionByName(
        target.withColumn("__prio", F.lit(0))
    )
    order = [F.col("__prio").desc()]
    if order_col is not None:
        order.append(F.col(order_col).desc())
    else:
        orderable = {
            f.name
            for f in updates.schema.fields
            if not isinstance(f.dataType, MapType)
        }
        order.extend(
            F.col(c).desc()
            for c in updates.columns
            if c not in key_cols and c in orderable
        )
    return top_k(tagged, tuple(key_cols), 1, *order, name="__rn").drop(
        "__rn", "__prio"
    )


def write_upsert_parquet(
    target_path: str,
    merged: DataFrame,
    partition_by: list[str] | None = None,
) -> None:
    """Single batch write of a merged frame (the S3 sink half).

    The canonical upsert flow reads the target, merges, and writes BACK to
    the same path — a direct overwrite of a path being read either raises
    (Spark's self-overwrite check) or destroys input files mid-scan. The
    write therefore stages to a sibling temp directory and swaps it in:
    the merged frame is fully materialized before the target is touched.
    (On object stores the final rename is a copy; a production deployment
    would use a table format's atomic commit instead.)

    ``partition_by`` (e.g. year of the date key) enables partition pruning
    for downstream scans at scale.
    """
    import shutil
    import uuid as _uuid

    def _write(path: str) -> None:
        writer = merged.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    from urllib.parse import urlparse

    if target_path.startswith("file:") or "://" in target_path:
        parsed = urlparse(target_path)
        if parsed.scheme not in ("", "file") or parsed.netloc not in (
            "",
            "localhost",
        ):
            # Remote filesystem: local rename doesn't apply; write directly
            # and rely on the store's committer (a production deployment
            # would use a table format's atomic commit for
            # read-modify-write cycles).
            _write(target_path)
            return
        # Covers file:/x, file://x, file:///x — urlparse yields the bare
        # local path for all three single-host forms.
        local = parsed.path
    else:
        local = target_path
    token = _uuid.uuid4().hex[:8]
    tmp_path = f"{local}__staging_{token}"
    try:
        _write(tmp_path)
    except Exception:
        shutil.rmtree(tmp_path, ignore_errors=True)
        raise
    # Crash-safe swap: move the live table aside (rename, instant), promote
    # the staging dir, then delete the old copy. A crash between the two
    # renames leaves the previous table recoverable at __old_<token>; the
    # no-live-table window is two metadata ops, not an rmtree of the data.
    old_path = None
    if os.path.exists(local):
        old_path = f"{local}__old_{token}"
        os.replace(local, old_path)
    try:
        os.replace(tmp_path, local)
    except Exception:
        if old_path is not None:
            os.replace(old_path, local)
        shutil.rmtree(tmp_path, ignore_errors=True)
        raise
    if old_path is not None:
        shutil.rmtree(old_path, ignore_errors=True)
