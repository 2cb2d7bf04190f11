"""Structured Streaming window operators (SURVEY §2.10 X14).

The reference has no streaming at all (SURVEY §2.9) — "refresh" is a rerun
of ``etl.py:85-89``. Here the events table is replayed as a file stream and
aggregated with event-time windows + watermark:

- tumbling 1-hour windows (count + sum per event type)
- sliding 2-hour/1-hour windows
- per-user session windows (30-minute gap)

Correctness strategy: each streaming query drains to completion with an
``availableNow`` trigger into a memory sink, and the SAME data aggregated in
batch SQL is the DuckDB oracle (sessionization is the classic
gaps-and-islands form) — exact batch-equivalence, the strongest check a
deterministic replay admits. ``complete`` output mode is used so the final
(above-watermark) windows are emitted before the drain stops; the watermark
still bounds state for late data exactly as it would on an unbounded
stream.

On-disk state goes through ``functions/derived.py``: the staged stream
sources (symlinked source dir, horizon replay) are keyed by the source
table's content signature, so a rewritten fixture re-stages, and every
drain or upsert target is a fresh ``scratch_path``.

Scale posture: event-time windowed aggregation is hash-partitioned by
(window, keys); watermarks bound state size; ``foreachBatch`` +
``upsert_by_key`` (see tests) gives the idempotent keyed-upsert sink that
mirrors the reference's ON CONFLICT semantics (``etl.py:68-71``).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.derived import derived_path, scratch_path
from ..functions.numerics import dsum, dsum_scaled, dsum_sql
from ..functions.timeparts import ntz_from_epoch_micros, ntz_from_instant


@contextlib.contextmanager
def _bounded_state_partitions(spark: SparkSession, n: int = 8):
    """Temporarily cap shuffle partitions for a streaming drain.

    Streaming state stores allocate one store per shuffle partition; under
    a default session (200 partitions) a small drain spends its time in
    store setup, not data. The shuffle-partition conf is dynamic, so we
    scope it to the drain and restore the caller's value. Only ever
    LOWERS the count (a session already below ``n`` keeps its setting).

    The conf is session-global: drains are sequential by contract (each
    registry query runs to completion before returning); do not overlap
    this context with concurrent queries on the same session.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        bounded = min(int(prev), n)
    except ValueError:
        bounded = n
    spark.conf.set("spark.sql.shuffle.partitions", str(bounded))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

EVENTS_STREAM_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_STREAM_SCHEMA_MICROS = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _stream_src_dir(sf_dir: str, table: str) -> str:
    """The file-stream source lists a DIRECTORY; a single fixture parquet
    file is exposed through a symlinked dir, derived state keyed by the
    table's content signature (``functions/derived.py``), so a rewritten
    source (``mode("overwrite")`` → new part-file uuids) gets a fresh
    link set instead of dangling links. A DIRECTORY source (Spark-written
    `table.parquet/part-*.parquet`, e.g. the empty-fixture sweep) has its
    part files symlinked individually — the stream source does not
    recurse into non-partition subdirs. The ``_SUCCESS`` marker is
    written last; the stream source ignores ``_``-prefixed files."""
    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    d = derived_path(sf_dir, f"{table}_stream", (table,))
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        if os.path.isdir(src):
            for f in sorted(os.listdir(src)):
                if f.endswith(".parquet"):
                    os.symlink(os.path.join(src, f), os.path.join(d, f))
        else:
            os.symlink(src, os.path.join(d, os.path.basename(src)))
        open(marker, "w").close()
    return d


def _events_ts_unit(src: str) -> str:
    """Parquet footer probe: the fixture's ``ts`` column has shipped as both
    ``timestamp[ns]`` and ``timestamp[us]`` across data generations, and a
    wrong unit assumption corrupts every event-time by 10^3 (observed as
    1970-dated windows). One footer read per file decides the decode path —
    the same dual handling ``io.read_table`` applies on the batch side."""
    import pyarrow.parquet as pa_pq

    if os.path.isdir(src):
        parts = sorted(
            f for f in os.listdir(src) if f.endswith(".parquet")
        )
        if not parts:  # rowless directory: no footer to probe; either
            return "us"  # decode path yields the same zero rows
        src = os.path.join(src, parts[0])
    return pa_pq.read_schema(src).field("ts").type.unit


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file stream. The file-stream source lists a
    directory, so the single parquet file is exposed through a symlinked
    dir (:func:`_stream_src_dir`). ``ts`` decodes per the footer's
    actual unit (see :func:`_events_ts_unit`): nanos arrive as raw longs
    and are floored to microsecond instants (int64 ``div`` — ns epochs
    exceed double's exact range); micros load VERBATIM into TimestampType
    (the parquet int64 becomes the instant's epoch micros — no timezone
    math at read time). Either way the returned ``ts`` is a TIMESTAMP
    instant whose epoch equals the fixture's naive wall read as UTC,
    independent of ``spark.sql.session.timeZone`` (watermarks require
    TIMESTAMP, so streaming can't carry NTZ like ``io.read_table``; the
    drained outputs convert back to NTZ walls via
    :func:`~..functions.timeparts.ntz_from_instant`, which is likewise
    timezone-independent — batch and stream always agree)."""
    d = _stream_src_dir(sf_dir, "events")
    if _events_ts_unit(os.path.abspath(f"{sf_dir}/events.parquet")) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA_NANOS)
            .format("parquet")
            .load(d)
        )
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA_MICROS)
        .format("parquet")
        .load(d)
    )


def _drain_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    drain: str = "available_now",
    checkpoint: str | None = None,
) -> DataFrame:
    """Run a streaming query to completion into a memory sink and return
    the final result as a batch DataFrame. ``drain`` picks how "to
    completion" is decided: ``available_now`` (file-shaped sources with a
    defined end) or ``process_all`` (endless feeds — run until the source
    reports caught-up via ``processAllAvailable``, then stop; pairs with
    an explicit ``checkpoint`` when the source's offsets should be
    resumable).

    The memory sink is driver-resident by design; to avoid keeping a SECOND
    driver copy alive for the session (``collect()`` + ``createDataFrame``
    would be O(result) driver memory per invocation — and ``stream_dedup_keys``
    emits one row per distinct key, not a bounded aggregate), the sink rows
    are spilled once to a fresh ``scratch_path`` (one per drain: reusing a
    path would overwrite files a previously returned lazy DataFrame may
    still be reading), the temp view is dropped, and a LAZY read of that
    path is returned. Schema is stated explicitly so an empty result (no
    part files) still reads back with the right columns.
    """
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    with _bounded_state_partitions(spark):
        w = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
        )
        if checkpoint is not None:
            w = w.option("checkpointLocation", checkpoint)
        if drain == "process_all":
            q = w.start()
            q.processAllAvailable()
            q.stop()
        else:
            q = w.trigger(availableNow=True).start()
        q.awaitTermination()
    sink = spark.table(name)
    path = scratch_path("stream_drain")
    sink.write.mode("overwrite").parquet(path)
    spark.catalog.dropTempView(name)
    return spark.read.schema(sink.schema).parquet(path)


def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14 — tumbling 1-hour event-time windows with a 1-hour watermark."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dsum("value"), 4).alias("sum_value"),
        )
    )
    out = _drain_to_memory(agg, spark)
    return out.select(
        ntz_from_instant(F.col("w.start")).alias("window_start"),
        ntz_from_instant(F.col("w.end")).alias("window_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14b — sliding windows (2-hour length, 1-hour slide): every event
    lands in exactly two windows."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _drain_to_memory(agg, spark)
    return out.select(
        ntz_from_instant(F.col("w.start")).alias("window_start"),
        ntz_from_instant(F.col("w.end")).alias("window_end"),
        "event_type",
        "n_events",
    )


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14c — per-user session windows with a 30-minute inactivity gap.
    Oracle: the batch gaps-and-islands formulation (lag + running sum) —
    session end = last event + gap, new session when the gap is reached."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dsum("value"), 4).alias("sum_value"),
        )
    )
    out = _drain_to_memory(agg, spark)
    return out.select(
        ntz_from_instant(F.col("w.start")).alias("session_start"),
        ntz_from_instant(F.col("w.end")).alias("session_end"),
        "user_id",
        "n_events",
        "sum_value",
    )


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14d — streaming deduplication: at most one row per
    (user, event_type, hour) via ``dropDuplicatesWithinWatermark``; the
    watermark bounds the dedup state exactly like aggregate state (keys
    older than the watermark are evicted, so state is O(active window),
    not O(stream)). Only the key columns are emitted — which physical row
    "wins" is arrival-order-dependent, the surviving KEY SET is not, and
    that set is the deterministic, oracle-checkable output (batch
    ``SELECT DISTINCT`` twin)."""
    ev = _events_stream(spark, sf_dir)
    # epoch-hour truncation (pure int64 arithmetic), not date_trunc: the
    # latter truncates the instant's wall clock in the session timezone —
    # a half-hour-offset zone would shift the bucket. Epoch truncation ==
    # DuckDB's date_trunc over the naive walls, under any session tz.
    # pmod, not `div`: div truncates toward zero, which would round a
    # pre-1970 timestamp UP to the next hour while date_trunc floors —
    # us - pmod(us, hour) floors exactly for either sign in int64.
    keyed = ev.withWatermark("ts", "1 hour").withColumn(
        "hr_us",
        F.expr("unix_micros(ts) - pmod(unix_micros(ts), 3600000000)"),
    )
    dedup = keyed.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "hr_us"]
    )
    out = _drain_to_memory(
        dedup.select("user_id", "event_type", "hr_us"), spark,
        output_mode="append",
    )
    return out.select(
        "user_id",
        "event_type",
        ntz_from_epoch_micros("hr_us").alias("hour_start"),
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14e — stream-stream inner join with an event-time range condition:
    each purchase joins the same user's clicks from the strictly-prior
    hour. Both sides carry a 1-hour watermark and the join condition
    bounds event time on both, so the state store holds only ~2 hours of
    either stream (the canonical bounded-state stream-stream join).
    Append mode: matched pairs are final once the watermark passes.
    Oracle: the identical batch self-join on events (µs-cast timestamps,
    as in ``joins.join_interval_bucketed``)."""
    ev = _events_stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_uid"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_uid"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
    )
    out = _drain_to_memory(
        j.select("purchase_id", "click_id", "user_id"),
        spark,
        output_mode="append",
    )
    return out


QUERIES = {
    "stream_tumbling_agg": stream_tumbling_agg,
    "stream_sliding_agg": stream_sliding_agg,
    "stream_session_window": stream_session_window,
    "stream_dedup_keys": stream_dedup_keys,
    "stream_stream_join": stream_stream_join,
}

ORACLE = {
    "stream_docs_dedup_fingerprint": (
        "SELECT DISTINCT md5(regexp_replace(lower(trim(text)), "
        "'\\s+', ' ', 'g')) AS fp FROM documents"
    ),
    "stream_tumbling_agg": (
        "SELECT date_trunc('hour', ts) AS window_start, "
        "date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end, "
        "event_type, COUNT(*) AS n_events, "
        f"ROUND({dsum_sql('value')}, 4) AS sum_value "
        "FROM events GROUP BY 1, 2, 3"
    ),
    "stream_sliding_agg": (
        "SELECT ws AS window_start, ws + INTERVAL 2 HOUR AS window_end, "
        "event_type, COUNT(*) AS n_events FROM ("
        "SELECT date_trunc('hour', ts) - o.o * INTERVAL 1 HOUR AS ws, "
        "event_type FROM events, (VALUES (0), (1)) AS o(o)) "
        "GROUP BY 1, 2, 3"
    ),
    "stream_dedup_keys": (
        "SELECT DISTINCT user_id, event_type, "
        "date_trunc('hour', ts) AS hour_start FROM events"
    ),
    "stream_stream_join": (
        "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
        "p.user_id FROM events p JOIN events c ON c.user_id = p.user_id "
        "WHERE p.event_type = 'purchase' AND c.event_type = 'click' "
        "AND CAST(c.ts AS TIMESTAMP) >= "
        "CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR "
        "AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)"
    ),
    "stream_session_window": (
        "WITH e AS (SELECT user_id, ts, value, "
        "CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
        "OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) "
        ">= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM events), "
        "s AS (SELECT user_id, ts, value, "
        "SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS UNBOUNDED PRECEDING) AS sid FROM e) "
        "SELECT MIN(ts) AS session_start, "
        "MAX(ts) + INTERVAL 30 MINUTE AS session_end, user_id, "
        "COUNT(*) AS n_events, "
        f"ROUND({dsum_sql('value')}, 4) AS sum_value "
        "FROM s GROUP BY user_id, sid"
    ),
}


DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a file stream, via the same symlink device
    as :func:`_events_stream` (no timestamp decode — the docs schema is
    timestamp-free)."""
    d = _stream_src_dir(sf_dir, "documents")
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .format("parquet")
        .load(d)
    )


def stream_docs_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — streaming ingestion dedup for a crawl pipeline: the
    documents stream is fingerprinted (md5 over normalized text, the same
    normalization as the batch ``text_fingerprint``) and exact-deduped
    with ``dropDuplicates`` on the fingerprint, so each distinct content
    hash survives exactly once no matter how many crawl batches re-ship
    it. Which PHYSICAL row survives is arrival-order-dependent; the
    surviving FINGERPRINT SET is not — that set is the deterministic,
    oracle-checkable output (batch ``SELECT DISTINCT md5(...)`` twin,
    exactly like ``stream_dedup_keys``'s key-set contract).

    State note: content dedup state is O(distinct fingerprints) — the
    same as any global exact dedup. A production crawl stream bounds it
    with an ingest-time watermark (``dropDuplicatesWithinWatermark``,
    demonstrated on the events stream); the docs fixture carries no
    event time, so the unbounded variant is the honest shape here.
    """
    docs = _docs_stream(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    keyed = docs.select(F.md5(norm).alias("fp"))
    dedup = keyed.dropDuplicates(["fp"])
    return _drain_to_memory(dedup, spark, output_mode="append")


QUERIES["stream_docs_dedup_fingerprint"] = stream_docs_dedup_fingerprint


# batches processed by the last stream_upsert_foreach_batch drain —
# observability for the multi-batch merge test (the streaming twin of
# dedup.LAST_CLUSTER_ROUNDS, which records functions/iterate.fixpoint's
# rounds_run)
LAST_UPSERT_BATCHES: int | None = None


def stream_upsert_foreach_batch(
    spark: SparkSession, sf_dir: str, _source: DataFrame | None = None
) -> DataFrame:
    """S3-streaming — keyed-merge (upsert) sink via ``foreachBatch``: each
    micro-batch's per-user partial aggregate is MERGED into a parquet
    target by key (matched keys updated, new keys inserted) — the
    streaming mirror of the reference's idempotent ``ON CONFLICT`` upsert
    loop (``etl.py:57-73``), as one distributed merge per batch instead of
    per-row round trips.

    The merged measures form a commutative monoid (count-add, scaled-int
    sum-add, max), so the final state is independent of how the stream is
    sliced into micro-batches — deterministic and exactly the batch GROUP
    BY (the DuckDB oracle). Partials stay scaled int64 across batches
    (``dsum_scaled``) and descale once at the end; event times cross the
    state as epoch-micros longs per CLAUDE.md rule 6/6a and convert to
    NTZ walls only in the final projection.

    Scale posture: state is one row per key (bounded by key cardinality,
    not stream length); each batch costs one keyed shuffle of the batch
    plus a rewrite of the target — on a cluster the target would be a
    MERGE-capable table format (the parquet stage-write + directory
    rename is the sandbox stand-in with the same semantics). Batch
    REPLAY (checkpoint recovery redelivering a batch whose merge already
    committed) is guarded by a batch-id watermark swapped in atomically
    with the state: additive merges are not naturally idempotent, so a
    replayed batch_id at or below the watermark is skipped.
    """
    if _source is None:  # tests inject a multi-file stream to force >1 batch
        ev = _events_stream(spark, sf_dir).select(
            "user_id", "value", F.unix_micros("ts").alias("ts_us")
        )
    else:
        ev = _source
    global LAST_UPSERT_BATCHES
    LAST_UPSERT_BATCHES = 0
    target = scratch_path("upsert")
    state_schema = (
        "user_id long, n_events long, sum_scaled long, last_micros long"
    )
    batch_marker = os.path.join(target, "_LAST_BATCH")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        global LAST_UPSERT_BATCHES
        LAST_UPSERT_BATCHES = (LAST_UPSERT_BATCHES or 0) + 1
        s = batch_df.sparkSession
        # replay guard: the marker travels inside the state dir, so state
        # and watermark swap together — a redelivered batch is a no-op
        if os.path.exists(batch_marker):
            with open(batch_marker) as f:
                if batch_id <= int(f.read().strip()):
                    return
        updates = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_scaled("value").alias("sum_scaled"),
            F.max("ts_us").alias("last_micros"),
        )
        if os.path.exists(target):  # no state yet before the first commit
            current = s.read.schema(state_schema).parquet(target)
        else:
            current = s.createDataFrame([], state_schema)
        merged = (
            current.unionByName(updates)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_scaled").alias("sum_scaled"),
                F.max("last_micros").alias("last_micros"),
            )
        )
        # stage-then-rename: the merge plan lazily READS the target it
        # replaces, so materialize to a stage dir, then swap with one
        # directory rename (no second Spark job; the non-atomic window
        # is the rename, not a full rewrite)
        stage = target + "_stage"
        merged.write.mode("overwrite").parquet(stage)
        with open(os.path.join(stage, "_LAST_BATCH"), "w") as f:
            f.write(str(batch_id))
        shutil.rmtree(target, ignore_errors=True)
        os.replace(stage, target)

    with _bounded_state_partitions(spark):
        q = (
            ev.writeStream.foreachBatch(merge_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", target + "_ckpt")
            .start()
        )
        q.awaitTermination()

    if os.path.exists(target):
        state = spark.read.schema(state_schema).parquet(target)
    else:  # zero micro-batches (empty/rowless source): empty state
        state = spark.createDataFrame([], state_schema)
    from ..functions.numerics import SCALE

    return state.select(
        "user_id",
        "n_events",
        F.round(F.col("sum_scaled") / float(SCALE), 4).alias("sum_value"),
        ntz_from_epoch_micros("last_micros").alias("last_ts"),
    ).orderBy("user_id")


QUERIES["stream_upsert_foreach_batch"] = stream_upsert_foreach_batch

ORACLE["stream_upsert_foreach_batch"] = (
    "SELECT user_id, COUNT(*) AS n_events, "
    f"ROUND({dsum_sql('value')}, 4) AS sum_value, "
    "MAX(ts) AS last_ts FROM events GROUP BY 1 ORDER BY 1"
)


def _events_horizon_dir(sf_dir: str) -> str:
    """Events fixture re-staged as a THREE-batch stream whose tail is two
    sentinel files 4 h / 8 h past the last real event. Outer stream-stream
    joins only null-extend a row once the watermark passes it, and the
    watermark only advances at batch boundaries from data actually seen —
    with a single availableNow batch the final rows would sit in state
    forever and the outer results would be silently incomplete. The
    sentinels are the stream-world end-of-input marker (in production the
    feed keeps flowing, so the watermark advances for free; a bounded
    replay needs an explicit horizon exactly like this).

    Files are written with ascending mtimes so the file-stream source
    (ordered by mtime, then path) delivers real → +4 h → +8 h under
    ``maxFilesPerTrigger=1``: the +4 h batch moves the watermark past
    every real event, the +8 h batch triggers the flush of their state.
    ``ts`` is normalized to microseconds (int64 floor-div for a nanos
    fixture — the same decode ``io.read_table`` applies), so the reader
    uses the plain MICROS schema regardless of fixture generation.
    Sentinel rows carry negative ``event_id``/``user_id`` and are dropped
    from the drained output.

    The staged dir is derived state keyed by the events content signature
    (``functions/derived.py``): a rewritten events.parquet re-stages. The
    parts are written by hand, so the ``_SUCCESS`` marker (ignored by the
    stream source) is written LAST — a half-staged dir is rebuilt."""
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    d = derived_path(sf_dir, "events_horizon", ("events",))
    marker = os.path.join(d, "_SUCCESS")
    if os.path.exists(marker):
        return d
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pa_pq

    t = pa_pq.read_table(src)
    ts = t.column("ts")
    # unit decision via the SHARED footer probe (_events_ts_unit — CLAUDE
    # rule 6); only the arithmetic itself is pyarrow here because this
    # helper must WRITE a normalized copy, which read_table cannot do
    if _events_ts_unit(src) == "ns":
        us = pc.divide(ts.cast(pa.int64()), 1000)  # int64 floor for >=1970
        ts = us.cast(pa.timestamp("us"))
    else:
        ts = ts.cast(pa.timestamp("us"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts)
    max_us = pc.max(ts.cast(pa.int64())).as_py()
    if max_us is None:  # rowless fixture: any horizon flushes the nothing
        max_us = 0
    os.makedirs(d, exist_ok=True)
    pa_pq.write_table(t, os.path.join(d, "part-00000.parquet"))

    def sentinel(us_epoch: int, eid: int) -> pa.Table:
        return pa.table(
            {
                "event_id": pa.array([eid, eid - 1], pa.int64()),
                "ts": pa.array([us_epoch, us_epoch], pa.timestamp("us")),
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array(["purchase", "click"]),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array([None, None], pa.string()),
            }
        ).select(t.schema.names)

    hour = 3_600_000_000
    for i, (off, eid) in enumerate([(4 * hour, -1), (8 * hour, -3)], 1):
        p = os.path.join(d, f"part-0000{i}.parquet")
        pa_pq.write_table(sentinel(max_us + off, eid), p)
    now = os.path.getmtime(os.path.join(d, "part-00000.parquet"))
    for i in (1, 2):
        os.utime(os.path.join(d, f"part-0000{i}.parquet"), (now + i, now + i))
    open(marker, "w").close()
    return d


def _purchase_click_horizon_streams(spark: SparkSession, sf_dir: str):
    """Shared construction for the OUTER stream-stream joins: the
    horizon-staged events stream split into watermarked purchase/click
    sides plus the prior-hour join condition. One definition, so the
    protocol (watermark delay, window bounds, per-file batching) cannot
    drift between the left- and full-outer family members."""
    d = _events_horizon_dir(sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA_MICROS)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_uid"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_uid"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    cond = (
        (F.col("p_uid") == F.col("c_uid"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    return p, c, cond


def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14f — stream-stream LEFT OUTER join with watermarked
    null-extension: every purchase emits once per same-user click in the
    strictly-prior hour, or exactly once with a null click once the
    watermark proves no such click can still arrive. The inner variant
    (:func:`stream_stream_join`) emits matches eagerly; the outer
    variant is the one that exercises state eviction — a purchase's
    null row is only final when BOTH sides' watermarks pass its window,
    which the horizon sentinels guarantee for every real row (see
    :func:`_events_horizon_dir`). State stays bounded to ~2 h of either
    stream by the event-time bounds in the join condition.

    Oracle: the identical batch LEFT JOIN — the sentinel protocol makes
    the streaming output COMPLETE, so no watermark-cutoff modeling leaks
    into the oracle. ``click_id`` is coalesced to -1 on both sides
    (engines disagree on NULL ordering, and the driver sorts values)."""
    p, c, cond = _purchase_click_horizon_streams(spark, sf_dir)
    j = p.join(c, cond, "left_outer")
    out = _drain_to_memory(
        j.select("purchase_id", F.col("p_uid").alias("user_id"), "click_id"),
        spark,
        output_mode="append",
    )
    return out.filter(F.col("purchase_id") >= 0).select(
        "purchase_id",
        "user_id",
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
    )


QUERIES["stream_left_outer_join"] = stream_left_outer_join

ORACLE["stream_left_outer_join"] = (
    "SELECT p.event_id AS purchase_id, p.user_id, "
    "COALESCE(c.event_id, -1) AS click_id "
    "FROM events p LEFT JOIN events c ON c.user_id = p.user_id "
    "AND c.event_type = 'click' "
    "AND CAST(c.ts AS TIMESTAMP) >= "
    "CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR "
    "AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP) "
    "WHERE p.event_type = 'purchase'"
)


def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14g — stream-stream FULL OUTER join, completing the family
    (inner :func:`stream_stream_join`, left :func:`stream_left_outer_join`):
    unmatched rows on BOTH sides null-extend once the watermark proves
    their window closed — purchases with no prior-hour click AND clicks
    that no purchase followed within the hour. Same horizon-sentinel
    protocol (:func:`_events_horizon_dir`) makes the bounded replay
    COMPLETE on both sides, so the oracle stays the plain batch FULL
    JOIN. Both null-extended directions are exercised by the fixture
    (most clicks precede no purchase; most purchases follow no click).
    IDs are coalesced to -1 (engines disagree on NULL ordering)."""
    p, c, cond = _purchase_click_horizon_streams(spark, sf_dir)
    j = p.join(c, cond, "full_outer")
    out = _drain_to_memory(
        j.select("purchase_id", "click_id"), spark, output_mode="append"
    )
    # sentinels carry negative ids on whichever side they surfaced
    return out.filter(
        (F.coalesce("purchase_id", F.lit(0)) >= 0)
        & (F.coalesce("click_id", F.lit(0)) >= 0)
    ).select(
        F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
    )


QUERIES["stream_full_outer_join"] = stream_full_outer_join

ORACLE["stream_full_outer_join"] = (
    "SELECT COALESCE(p.event_id, -1) AS purchase_id, "
    "COALESCE(c.event_id, -1) AS click_id "
    "FROM (SELECT * FROM events WHERE event_type = 'purchase') p "
    "FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c "
    "ON c.user_id = p.user_id "
    "AND CAST(c.ts AS TIMESTAMP) >= "
    "CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR "
    "AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)"
)


def stream_static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment — the most common production
    streaming shape, previously undemonstrated here: the micro-batched
    event stream joined to a STATIC dimension table (customer market
    segment keyed by ``user_id``), then aggregated per (event_type,
    segment).

    Semantics worth pinning: a stream-static equi-join is STATELESS —
    no watermark is required for it (the watermark here only bounds the
    downstream aggregation state) and the static side is re-planned per
    micro-batch, so dimension updates between batches are picked up.
    The dim is explicitly broadcast: at production scale the stream side
    never shuffles for the join (map-side hash probe per batch); events
    whose user has no dim row are dropped by the inner join in both
    engines identically.

    Oracle: the identical batch join+aggregate — stream-static joins
    commute with bounded replay.
    """
    ev = _events_stream(spark, sf_dir)
    dim = (
        spark.read.parquet(os.path.abspath(f"{sf_dir}/customer.parquet"))
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    agg = (
        ev.withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), "user_id")
        .groupBy("event_type", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dsum("value"), 4).alias("sum_value"),
        )
    )
    out = _drain_to_memory(agg, spark)
    return out.select("event_type", "segment", "n_events", "sum_value")


QUERIES["stream_static_enrich_join"] = stream_static_enrich_join

ORACLE["stream_static_enrich_join"] = (
    "SELECT e.event_type, c.c_mktsegment AS segment, "
    "COUNT(*) AS n_events, "
    f"ROUND({dsum_sql('e.value')}, 4) AS sum_value "
    "FROM events e JOIN customer c ON c.c_custkey = e.user_id "
    "GROUP BY 1, 2"
)
