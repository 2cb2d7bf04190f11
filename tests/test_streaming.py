"""Streaming tests: batch-equivalence is covered by the oracle harness;
here we cover the foreachBatch keyed-upsert sink — the streaming mirror of
the reference's idempotent ON CONFLICT loop (`etl.py:57-73`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from u_s__non_farm_payrolls_an_olap_analysis_spark.io import upsert_by_key
from u_s__non_farm_payrolls_an_olap_analysis_spark.streaming.stream_windows import (
    _events_stream,
)

SF = "/root/testdata/sf0.001"


def test_foreachbatch_upsert_sink(spark, tmp_path):
    """Aggregate a stream per user and merge each micro-batch into a
    parquet target by key: reprocessing is idempotent, exactly like the
    reference's keyed upsert."""
    target_path = str(tmp_path / "user_totals")

    def merge_batch(batch_df, batch_id):
        agg = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
        )
        try:
            target = batch_df.sparkSession.read.parquet(target_path)
        except Exception:
            target = agg.limit(0)
        merged = upsert_by_key(target, agg, ["user_id"])
        merged.write.mode("overwrite").parquet(target_path + "_tmp")
        batch_df.sparkSession.read.parquet(target_path + "_tmp").write.mode(
            "overwrite"
        ).parquet(target_path)

    stream = _events_stream(spark, SF)
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()

    result_rows = sorted(
        (r["user_id"], r["n"]) for r in spark.read.parquet(target_path).collect()
    )
    batch = spark.read.parquet(f"{SF}/events.parquet")
    assert len(result_rows) == batch.select("user_id").distinct().count()
    # rerun the same data through a fresh stream -> same target (idempotent)
    q2 = (
        _events_stream(spark, SF)
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q2.awaitTermination()
    again_rows = sorted(
        (r["user_id"], r["n"]) for r in spark.read.parquet(target_path).collect()
    )
    assert again_rows == result_rows


def test_stream_source_schema(spark):
    df = _events_stream(spark, SF)
    assert df.isStreaming
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_drain_leaves_no_memory_sink_views(spark):
    """_drain_to_memory must drop its memory-sink temp view — repeated
    streaming invocations in one session must not accumulate catalog
    entries (round-1 advice)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.streaming.stream_windows import (
        stream_tumbling_agg,
    )

    def sink_views():
        return [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("stream_out_")
        ]

    before = sink_views()
    out = stream_tumbling_agg(spark, SF)
    assert out.count() > 0
    assert sink_views() == before


def test_events_stream_decodes_both_ts_units(spark, tmp_path):
    """The driver's events.parquet has shipped ts as timestamp[ns] AND
    timestamp[us] across data generations; a wrong unit assumption
    corrupts every event time by 10^3 (the round-6/7 1970-dated-window
    bug). Pin: the stream decodes BOTH encodings to identical wall
    times."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from u_s__non_farm_payrolls_an_olap_analysis_spark.streaming import (
        stream_windows as sw,
    )

    base_us = [1706640381466163, 1706623415462107]  # 2024-01-30, micros
    rows = {
        "event_id": [1, 2],
        "user_id": [10, 20],
        "event_type": ["click", "view"],
        "value": [1.5, 2.5],
        "props": ["{}", "{}"],
    }
    dirs = {}
    for unit in ("us", "ns"):
        d = tmp_path / unit
        d.mkdir()
        mult = 1 if unit == "us" else 1000
        tbl = pa.table(
            {**rows, "ts": pa.array([v * mult for v in base_us],
                                    type=pa.timestamp(unit))}
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        dirs[unit] = str(d)

    got = {}
    for unit, d in dirs.items():
        assert sw._events_ts_unit(f"{d}/events.parquet") == unit
        ev = sw._events_stream(spark, d).select("event_id", "ts", "value")
        q = (
            ev.writeStream.format("memory")
            .queryName(f"unit_{unit}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got[unit] = {
            r["event_id"]: r["ts"]
            for r in spark.table(f"unit_{unit}").collect()
        }
    assert got["us"] == got["ns"]
    # and the values are the true 2024 wall times, not 1970 corruptions
    assert got["us"][1].year == 2024


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """The registry queries declare 1-hour watermarks but drain the
    single-file fixture in ONE micro-batch, so the watermark never drops
    anything. Three forced batches (maxFilesPerTrigger=1): batch 1 fills
    the hour-0 window, batch 2 advances the watermark past it (state
    evicted, finalized window emitted), batch 3 delivers a too-late row
    into the evicted window. Structured Streaming semantics: late rows
    merge while the window STATE still exists and are dropped only after
    eviction — so the finalized hour-0 count must exclude batch 3's row,
    and no second emission of that window may appear (append mode)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    H = 3_600_000_000  # one hour in epoch micros
    base = 1_706_000_000_000_000 - (1_706_000_000_000_000 % H)

    def write(path, rows):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "value": pa.array([r[2] for r in rows], pa.float64()),
                }
            ),
            str(path),
        )

    d = tmp_path / "late"
    d.mkdir()
    # batch 1: hour-0 event + an event late enough that the next batch's
    # watermark (02:30) lands STRICTLY past the hour-0 window end (01:00)
    # — boundary-equality eviction is version-sensitive
    write(
        d / "b1.parquet",
        [(1, base + 30 * 60_000_000, 1.0), (1, base + 3 * H + 30 * 60_000_000, 1.0)],
    )
    # batch 2: hour-3 event; during this batch the watermark (02:30)
    # passes the hour-0 window -> state evicted, count emitted
    write(d / "b2.parquet", [(1, base + 3 * H + 45 * 60_000_000, 1.0)])
    # batch 3: LATE row into the evicted hour-0 window + on-time hour 4
    write(
        d / "b3.parquet",
        [(1, base + 45 * 60_000_000, 1.0), (1, base + 4 * H, 1.0)],
    )
    # the file source orders same-mtime files arbitrarily; pin strictly
    # increasing mtimes so the batches arrive b1 -> b2 -> b3
    import os as _os
    import time as _time

    now = _time.time()
    for i, f in enumerate(("b1.parquet", "b2.parquet", "b3.parquet")):
        _os.utime(d / f, (now + i * 10, now + i * 10))
    ev = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .format("parquet")
        .load(str(d))
    )
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("late_drop").collect()
    got = {int((r["ws"].timestamp() * 1_000_000 - base) // H): r["n"] for r in rows}
    # the hour-0 window finalized with ONLY the on-time row — the late
    # row was dropped (a batch aggregate over the same files counts 2) —
    # and append mode emitted it exactly once
    assert got[0] == 1, f"late row not dropped: {got}"
    assert len(rows) == len(got), f"duplicate window emission: {rows}"
    # hour-3 closes if the final watermark reaches 04:00; hours past the
    # final watermark were never emitted
    assert set(got) <= {0, 3}, got


def test_foreachbatch_upsert_merges_across_micro_batches(spark, tmp_path):
    """stream_upsert_foreach_batch with the events split across 3 files and
    maxFilesPerTrigger=1: users spanning files are merged across MULTIPLE
    micro-batches (counts add, scaled sums add, last-ts maxes) and the
    final state equals the one-shot batch aggregate exactly."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.numerics import (
        SCALE,
        dsum,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.timeparts import (
        epoch_micros_from_ntz,
        ntz_from_epoch_micros,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.streaming import (
        stream_windows as sw,
    )

    base = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "value", epoch_micros_from_ntz("ts").alias("ts_us")
    )
    d = str(tmp_path / "ev3")
    base.repartition(3).write.parquet(d)
    stream = (
        spark.readStream.schema("user_id long, value double, ts_us long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = sw.stream_upsert_foreach_batch(spark, SF, _source=stream)
    got = [tuple(r) for r in out.collect()]
    assert sw.LAST_UPSERT_BATCHES and sw.LAST_UPSERT_BATCHES >= 3, (
        f"expected one micro-batch per file, got {sw.LAST_UPSERT_BATCHES}"
    )
    expected = [
        tuple(r)
        for r in base.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dsum("value"), 4).alias("sum_value"),
            F.max("ts_us").alias("mx"),
        )
        .select(
            "user_id",
            "n_events",
            "sum_value",
            ntz_from_epoch_micros("mx").alias("last_ts"),
        )
        .orderBy("user_id")
        .collect()
    ]
    assert got == expected


def test_stream_left_outer_null_extension(spark):
    """The watermarked left-outer join must emit BOTH matched pairs and
    null-extended (no-prior-click) purchases, and exactly one row per
    unmatched purchase — completeness is what the horizon sentinels buy
    (without them the tail of the stream would never flush from state)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.streaming.stream_windows import (
        stream_left_outer_join,
    )

    out = stream_left_outer_join(spark, SF).collect()
    purchases = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    unmatched = [r for r in out if r["click_id"] == -1]
    assert len(unmatched) > 0  # null-extension actually happened
    # every purchase appears; unmatched ones exactly once
    assert len({r["purchase_id"] for r in out}) == purchases
    assert len({r["purchase_id"] for r in unmatched}) == len(unmatched)


def test_horizon_memo_restages_on_source_rewrite(spark, tmp_path):
    """A rewritten events.parquet at the SAME path must re-stage the
    horizon dir (derived state keyed by the source's content signature),
    not serve the stale copy."""
    import datetime as dt

    from u_s__non_farm_payrolls_an_olap_analysis_spark.streaming.stream_windows import (
        stream_left_outer_join,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    spark.createDataFrame(
        [(1, t0, 1, "purchase", 1.0, None)], schema
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    first = stream_left_outer_join(spark, str(tmp_path)).collect()
    assert {r["purchase_id"] for r in first} == {1}
    spark.createDataFrame(
        [
            (2, t0, 1, "purchase", 1.0, None),
            (3, t0 + dt.timedelta(hours=1), 1, "purchase", 1.0, None),
        ],
        schema,
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    second = stream_left_outer_join(spark, str(tmp_path)).collect()
    assert {r["purchase_id"] for r in second} == {2, 3}


def test_stream_full_outer_extends_both_sides(spark):
    """The full-outer variant must null-extend BOTH directions: purchases
    with no prior-hour click (click_id = -1) AND clicks no purchase
    followed within the hour (purchase_id = -1), with every real event
    of either type represented."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.streaming.stream_windows import (
        stream_full_outer_join,
    )

    out = stream_full_outer_join(spark, SF).collect()
    batch = spark.read.parquet(f"{SF}/events.parquet")
    n_purchases = batch.filter(F.col("event_type") == "purchase").count()
    n_clicks = batch.filter(F.col("event_type") == "click").count()
    assert any(r["click_id"] == -1 for r in out)     # purchase-side nulls
    assert any(r["purchase_id"] == -1 for r in out)  # click-side nulls
    assert (
        len({r["purchase_id"] for r in out if r["purchase_id"] >= 0})
        == n_purchases
    )
    assert len({r["click_id"] for r in out if r["click_id"] >= 0}) == n_clicks


def test_checkpoint_resume_processes_only_new_data(spark, tmp_path):
    """Crash/restart recovery: a second run of the SAME query against the
    SAME checkpoint must pick up exactly the files that arrived after the
    first run — no reprocessing of committed offsets, no gaps. This is
    the exactly-once contract the reference's cron-style re-extract
    (etl.py re-running the full FRED pull) does NOT have."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    seen = tmp_path / "seen"

    spark.createDataFrame(
        [(1, 10), (2, 20)], "user_id long, v long"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "a.parquet"))

    def run_once():
        stream = (
            spark.readStream.schema("user_id long, v long")
            .option("recursiveFileLookup", True)
            .parquet(str(src))
        )

        def record(batch_df, batch_id):
            batch_df.write.mode("append").parquet(str(seen))

        q = (
            stream.writeStream.foreachBatch(record)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = sorted(
        (r["user_id"], r["v"]) for r in spark.read.parquet(str(seen)).collect()
    )
    assert first == [(1, 10), (2, 20)]

    spark.createDataFrame(
        [(3, 30)], "user_id long, v long"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b.parquet"))

    run_once()  # same checkpoint: must process ONLY b.parquet
    both = sorted(
        (r["user_id"], r["v"]) for r in spark.read.parquet(str(seen)).collect()
    )
    assert both == [(1, 10), (2, 20), (3, 30)]  # a.parquet not re-emitted


def test_stream_static_join_matches_spark_batch(spark):
    """The stream-static enrichment must equal the SAME join+aggregate
    computed in plain batch Spark (the stream-static join is stateless,
    so a bounded replay commutes with it exactly) — an in-engine twin of
    the DuckDB oracle check."""
    from pyspark.sql import functions as F

    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.numerics import (
        dsum,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.streaming import (
        stream_windows,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        map(
            tuple,
            stream_windows.QUERIES["stream_static_enrich_join"](
                spark, sf
            ).collect(),
        )
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table

    ev = read_table(spark, sf, "events").select(
        "user_id", "event_type", "value"
    )
    dim = spark.read.parquet(f"{sf}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    want = sorted(
        map(
            tuple,
            ev.join(dim, "user_id")
            .groupBy("event_type", "segment")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(dsum("value"), 4).alias("sum_value"),
            )
            .collect(),
        )
    )
    assert got == want
