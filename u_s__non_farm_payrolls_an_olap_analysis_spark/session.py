"""SparkSession factory with scale-ready defaults.

The reference loads everything into a single pandas process
(``dashboard_nfp.py:67-68``) and has no notion of parallelism, partitioning,
or spill. Here every engine entry point goes through :func:`get_spark`, which
encodes the 100 TB-scale posture once:

- **AQE on** (coalesce shuffle partitions, runtime skew-join splitting,
  dynamic broadcast demotion) so plans re-optimize with real statistics.
- **Arrow on** for any pandas interchange (vectorized ``pandas_udf`` /
  ``mapInPandas`` paths; 10-100x over row-at-a-time Python UDFs).
- **UTC session timezone** so time-part extraction is deterministic and
  matches the DuckDB oracle (naive timestamps).
- Shuffle partitions sized for the local harness; on a real cluster AQE
  coalescing makes the initial number a ceiling, not a constant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(total_bytes: int | None = None) -> str:
    """Driver heap default: half of physical RAM (``total_bytes``, read
    from the host when omitted), whole GiB, at least 1g and at most 16g.

    16g suits a 128 GiB host (the 100x bench's concurrent parquet
    writers OOMed an 8g heap), but on a 15 GiB host a 16g heap lets the
    JVM outgrow the machine and the OOM killer takes it (observed at
    15.9 GB RSS on the 30x documents fixture). ``SPARK_DRIVER_MEM``
    overrides this default."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, total_bytes // 2 // 2**30))}g"


def get_spark(
    app_name: str = "nfp-olap-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults favor the declarative path: let Catalyst plan, let AQE re-plan
    at runtime. Callers in tests pass ``master='local[4]'``; the driver
    harness supplies its own session, which these configs do not override.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- scale posture ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Report at-rest sort order from bucketed scans (off by default
        # since SPARK-28595). Spark still only claims ordering when every
        # selected bucket is a SINGLE file — which layout.py's writers
        # guarantee by pre-repartitioning on the bucket key — so this is
        # strictly plan-improving here: the clustered timeline operators
        # (sessionize / CEP off _events_user_bucketed_table) lose their
        # redundant pre-window per-partition sort (round 13: CEP@100x
        # sort elided, ~1.6s -> ~1.4s best case).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # Compiled-codegen cache (default 100 entries, split over 4 LRU
        # segments). The 15 dashboard panels' memo hits alone touch ~86
        # generated classes per cycle; at 100 a segment overflows and
        # every cycle recompiled ~25 of them (Janino, ms each), slowing
        # panels that share no code with the ones that pushed it over.
        .config("spark.sql.codegen.cache.maxEntries", "500")
        # Split parquet files finely enough to use all local cores at this
        # fixture scale (single ~10 MB files). On a real cluster with
        # 100 TB inputs the 128 MB default is right — this is the knob the
        # prompt's "size maxPartitionBytes to the SF" guidance refers to.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8388608"),
        )
        # --- python interchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- local-mode hygiene ---
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # Route the JVM's default unified-logging warnings (e.g.
        # [gc,alloc] GCLocker retries under allocation pressure) to
        # STDERR: the JVM default is stdout, where they interleave with
        # bench.py's driver-parsed JSON line (observed corrupting a
        # captured bench run in round 12). Only effective when this
        # builder launches the JVM — a pre-existing gateway ignores it.
        .config(
            "spark.driver.extraJavaOptions",
            "-Xlog:all=warning:stderr:uptime,level,tags",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
