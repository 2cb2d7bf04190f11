"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.9 extension: the escape hatch when built-in windowed aggregation
can't express the semantics).

Implements a per-user running profile — event count, value sum, last-seen
timestamp — maintained as explicit group state across micro-batches. The
state is a fixed-width tuple (bounded memory per key); batches arrive as
Arrow-backed pandas frames (vectorized update, no per-row Python in the
driver). Emission: each batch emits the keys it touched with their updated
totals (Update-mode semantics); the memory sink's last row per key is the
final profile.

The value sum accumulates as **scaled int64** (4-dp fixed point,
half-away-from-zero per row) inside the state, so the final profile is
independent of micro-batch arrival order and exactly equals a batch
``GROUP BY user_id`` — which is registered as the DuckDB oracle (the same
scaled-int convention as ``functions/numerics.dsum``). FP accumulation
would leak batch order into the low bits and admit only a rows-only check.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.ranks import top_k
from ..functions.timeparts import ntz_from_epoch_micros
from .stream_windows import _drain_to_memory, _events_stream

# Timestamps DO NOT cross the applyInPandasWithState Arrow boundary: the
# stateful serializer (unlike the plain pandas-UDF path) hands the Python
# worker frames whose timestamp values are unit-corrupted (µs truncated to
# ms, then relabeled — observed off-by-1000 in this env). The operator
# therefore carries ``ts`` as epoch-MICROsecond longs end-to-end (into the
# UDF, through the state tuple, and back out) and only converts to a real
# timestamp on the Spark side after the drain, where arithmetic is exact.
OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double, last_us long"
STATE_SCHEMA = "n long, sv long, last long"


def _update_profile(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import numpy as np

    n, sv, last = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # scaled-int64 accumulation, half-away-from-zero per row (numpy
        # .round is banker's — would diverge from Spark/DuckDB ROUND on
        # exact halves); integer addition commutes, so the total is
        # batch-order-independent and oracle-exact
        x = pdf["value"].astype("float64").mul(10000).to_numpy()
        sv += int(np.sum(np.sign(x) * np.floor(np.abs(x) + 0.5)))
        # ts_us is a plain int64 (epoch micros) — immune to the stateful
        # serializer's timestamp unit corruption (see OUTPUT_SCHEMA note)
        if len(pdf):
            last = max(last, int(pdf["ts_us"].to_numpy("int64").max()))
    state.update((n, sv, last))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [round(sv / 10000.0, 4)],
            "last_us": [last],
        }
    )


def stream_stateful_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events stream through the stateful profile operator and
    return the final per-user profiles."""
    from pyspark.sql import functions as F

    ev = _events_stream(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    profiles = ev.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # last emission per user = final profile (update-mode memory sink keeps
    # every emission; dedup by max n_events which is monotone per user)
    out = _drain_to_memory(profiles, spark, output_mode="update")
    return (
        top_k(out, "user_id", 1, F.col("n_events").desc())
        .drop("rn")
        .withColumn("last_ts", ntz_from_epoch_micros("last_us"))
        .drop("last_us")
    )


def tws_available() -> bool:
    """``transformWithStateInPandas``'s driver worker imports protobuf at
    startup; without it the streaming runner crashes (-2 init failure).
    Gate the operator on the dependency actually being importable."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_tws_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas`` (the successor stateful API:
    typed state handles, timers, schema evolution) — per-user totals held
    in a ValueState. The running sum accumulates as **scaled int64** inside
    the state, so the final profile is order-independent and
    oracle-checkable against a batch aggregate (unlike FP accumulation,
    where batch arrival order would leak into low bits).

    NOT registered in the driver registry: the API requires the RocksDB
    state store (set here) and the Python ``protobuf`` package for its
    driver worker — absent in this container (see :func:`tws_available`;
    the test suite skips accordingly). The implementation is complete and
    runs unmodified where protobuf is installed."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [StructField("n", LongType()), StructField("sv", LongType())]
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, sv = (
                self._state.get() if self._state.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                # half-away-from-zero per row (numpy .round is banker's —
                # would diverge from Spark/DuckDB ROUND on exact halves)
                x = pdf["value"].astype("float64").mul(10000).to_numpy()
                import numpy as np

                sv += int(np.sum(np.sign(x) * np.floor(np.abs(x) + 0.5)))
            self._state.update((n, sv))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [round(sv / 10000.0, 4)],
                }
            )

        def close(self) -> None:
            pass

    ev = _events_stream(spark, sf_dir).select("user_id", "value")
    totals = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotals(),
        outputStructType="user_id long, n_events long, sum_value double",
        outputMode="Update",
        timeMode="None",
    )
    out = _drain_to_memory(totals, spark, output_mode="update")
    from pyspark.sql import functions as F

    return top_k(out, "user_id", 1, F.col("n_events").desc()).drop("rn")


QUERIES = {"stream_stateful_user_profile": stream_stateful_user_profile}

# Batch-equivalence oracle: the final stateful profile per user is exactly
# the batch GROUP BY (scaled-int sum, same half-away-from-zero rounding as
# the state accumulator; ts is micro-aligned in the fixtures, so MAX(ts)
# matches the stream's nanos->micros conversion bit-for-bit).
ORACLE = {
    "stream_stateful_user_profile": (
        "SELECT user_id, COUNT(*) AS n_events, "
        "ROUND(CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE) "
        "/ 10000.0, 4) AS sum_value, MAX(ts) AS last_ts "
        "FROM events GROUP BY 1"
    )
}

# stream_tws_user_totals is gated on tws_available() (protobuf dependency)
# and therefore kept out of the driver registry; its batch-equivalence
# oracle lives with its (conditionally skipped) test.
TWS_ORACLE_SQL = (
    "SELECT user_id, COUNT(*) AS n_events, "
    "ROUND(CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE) "
    "/ 10000.0, 4) AS sum_value "
    "FROM events GROUP BY 1"
)


# --- Distributed Space-Saving heavy hitters (Metwally et al. 2005) ----------

SS_CAPACITY = 512  # per-shard counter capacity m
SS_SHARDS = 8
SS_TOPK = 20

_SS_OUTPUT_SCHEMA = (
    "shard long, n_processed long, item long, est long, err long"
)
_SS_STATE_SCHEMA = (
    "n long, items array<long>, counts array<long>, errs array<long>"
)


def _space_saving_update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Space-Saving (Metwally, Agrawal & El Abbadi, ICDT 2005) counter
    table for ONE shard: seen items increment; unseen items evict the
    current minimum, inheriting its count as overestimation error
    (``err``). Guarantees ``true <= est <= true + err`` and
    ``err <= n_shard / m`` — the Misra-Gries bound made per-item.
    """
    n, items, counts, errs = (
        state.get if state.exists else (0, [], [], [])
    )
    tbl = {
        it: (c, e)
        for it, c, e in zip(list(items), list(counts), list(errs))
    }
    for pdf in pdfs:
        for it, batch_cnt in (
            pdf["item"].astype("int64").value_counts().sort_index().items()
        ):
            it, batch_cnt = int(it), int(batch_cnt)
            n += batch_cnt
            if it in tbl:
                c, e = tbl[it]
                tbl[it] = (c + batch_cnt, e)
            elif len(tbl) < SS_CAPACITY:
                tbl[it] = (batch_cnt, 0)
            else:
                # evict the minimum-count entry (smallest item on ties —
                # deterministic); the newcomer inherits its count as err
                victim = min(tbl, key=lambda k: (tbl[k][0], k))
                vc, _ = tbl.pop(victim)
                tbl[it] = (vc + batch_cnt, vc)
    out_items = sorted(tbl)
    state.update(
        (
            n,
            out_items,
            [tbl[i][0] for i in out_items],
            [tbl[i][1] for i in out_items],
        )
    )
    yield pd.DataFrame(
        {
            "shard": [key[0]] * len(out_items),
            "n_processed": [n] * len(out_items),
            "item": out_items,
            "est": [tbl[i][0] for i in out_items],
            "err": [tbl[i][1] for i in out_items],
        }
    )


def stream_topk_space_saving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — streaming **top-k heavy hitters via Space-Saving**
    (Metwally et al. 2005), distributed the way mergeable summaries
    (Agarwal et al., PODS 2012) prescribe: items hash to
    ``SS_SHARDS`` shards, each shard maintains an independent
    capacity-``m`` Space-Saving table as explicit group state across
    micro-batches, and the final per-shard tables are unioned and cut to
    the global top-k (each item lives in exactly one shard, so
    cross-shard merge is a plain union). State is bounded at
    ``m × shards`` counters regardless of stream length — the whole
    point at 100 TB, where exact per-key counting needs unbounded state.

    On the fixtures the per-shard distinct-item count is below ``m``, so
    no eviction fires and the emitted estimates are EXACT (err = 0) —
    which is what makes this key oracle-checkable against the batch
    ``GROUP BY``/top-k. The eviction/error path is exercised by a
    direct property test against a pure-python reference with the
    Misra-Gries bound asserted (tests/test_streaming_space_saving.py),
    mirroring the planted-harness convention for order-sensitive
    estimators.
    """
    from pyspark.sql import functions as F

    ev = _events_stream(spark, sf_dir).select(
        F.col("user_id").alias("item"),
        (F.col("user_id") % SS_SHARDS).alias("shard"),
    )
    tables = ev.groupBy("shard").applyInPandasWithState(
        _space_saving_update,
        outputStructType=_SS_OUTPUT_SCHEMA,
        stateStructType=_SS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _drain_to_memory(tables, spark, output_mode="update")
    from pyspark.sql.window import Window

    w = Window.partitionBy("shard").orderBy(F.col("n_processed").desc())
    final = (
        out.withColumn("mx", F.max("n_processed").over(w))
        .filter(F.col("n_processed") == F.col("mx"))
        .select("item", "est", "err")
    )
    return final.orderBy(
        F.col("est").desc(), F.col("item")
    ).limit(SS_TOPK)


QUERIES["stream_topk_space_saving"] = stream_topk_space_saving

# exact at fixture cardinalities (no eviction below SS_CAPACITY per
# shard), so the batch top-k IS the oracle; est desc + item tiebreak is a
# total order
ORACLE["stream_topk_space_saving"] = (
    "SELECT user_id AS item, CAST(COUNT(*) AS BIGINT) AS est, "
    "CAST(0 AS BIGINT) AS err FROM events GROUP BY 1 "
    f"ORDER BY est DESC, item LIMIT {SS_TOPK}"
)


# --- Streaming CEP: view (click)* purchase pattern detection ----------------

_PM_OUTPUT_SCHEMA = (
    "user_id long, view_us long, purchase_us long, "
    "purchase_event_id long, n_clicks int, purchase_value double"
)
# "" sentinel = no non-click event seen yet for this user
_PM_STATE_SCHEMA = "nc_type string, nc_us long, clicks long"


def _pattern_update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user CEP walk: carry (last non-click type, its ts, clicks
    since) as explicit group state; a ``purchase`` arriving while the
    anchor is a ``view`` closes one match and emits immediately
    (append mode — no watermark flush dependency, unlike the outer
    joins' null-extended rows). The walk is inherently sequential per
    user (Flink CEP runs the same per-key NFA loop); the vectorizable
    work — decode, sort — is pandas, the state transition is the
    per-row loop over ONE user's batch slice."""
    nc_type, nc_us, clicks = state.get if state.exists else ("", 0, 0)
    out: dict[str, list] = {
        "user_id": [],
        "view_us": [],
        "purchase_us": [],
        "purchase_event_id": [],
        "n_clicks": [],
        "purchase_value": [],
    }
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts_us, eid, etype, val in zip(
            pdf["ts_us"].to_numpy("int64"),
            pdf["event_id"].to_numpy("int64"),
            pdf["event_type"],
            pdf["value"].to_numpy("float64"),
        ):
            if etype == "purchase" and nc_type == "view":
                out["user_id"].append(int(key[0]))
                out["view_us"].append(int(nc_us))
                out["purchase_us"].append(int(ts_us))
                out["purchase_event_id"].append(int(eid))
                out["n_clicks"].append(int(clicks))
                out["purchase_value"].append(float(val))
            if etype != "click":
                nc_type, nc_us, clicks = str(etype), int(ts_us), 0
            else:
                clicks += 1
    state.update((nc_type, int(nc_us), int(clicks)))
    yield pd.DataFrame(
        {
            "user_id": pd.Series(out["user_id"], dtype="int64"),
            "view_us": pd.Series(out["view_us"], dtype="int64"),
            "purchase_us": pd.Series(out["purchase_us"], dtype="int64"),
            "purchase_event_id": pd.Series(
                out["purchase_event_id"], dtype="int64"
            ),
            "n_clicks": pd.Series(out["n_clicks"], dtype="int32"),
            "purchase_value": pd.Series(
                out["purchase_value"], dtype="float64"
            ),
        }
    )


def stream_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — the STREAMING twin of
    ``analytics.events_pattern_match``: ``view (click)* purchase``
    detection as a per-user stateful walk (``applyInPandasWithState``),
    i.e. CEP on Structured Streaming. The batch operator's
    last-non-click-anchor WINDOW becomes three scalars of group state,
    which is the general batch→stream translation for anchor-pattern
    queries: whatever the window carries "from the past", the stream
    carries in the state row. Matches emit the moment their closing
    event arrives (append semantics, no watermark dependency), so a
    bounded replay is complete without horizon staging — unlike the
    stream-stream outer joins (CLAUDE.md 6c).

    State is O(1) per user regardless of stream length — the CEP
    memory guarantee that makes this viable at 100 TB (contrast the
    batch window, which re-sorts the full history per query).
    Correctness across micro-batches needs per-user TIME-ordered
    arrival between batches (in-batch order is restored by the local
    sort); the fixture replay satisfies this, production fronts a
    per-key-ordered log (Kafka partitions by user). Timestamps ride as
    epoch-micro longs end-to-end (the stateful Arrow serializer's unit
    corruption — CLAUDE.md rule 6) and convert to NTZ walls after the
    drain. Oracle: the batch operator's window SQL verbatim — the
    strongest batch↔stream equivalence statement in the streaming pack
    (value-hash, not rows-only).
    """
    from pyspark.sql import functions as F

    ev = _events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )
    matches = ev.groupBy("user_id").applyInPandasWithState(
        _pattern_update,
        outputStructType=_PM_OUTPUT_SCHEMA,
        stateStructType=_PM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _drain_to_memory(matches, spark, output_mode="append")
    return (
        out.select(
            "user_id",
            ntz_from_epoch_micros("view_us").alias("view_ts"),
            ntz_from_epoch_micros("purchase_us").alias("purchase_ts"),
            "purchase_event_id",
            "n_clicks",
            "purchase_value",
        )
        .orderBy("user_id", "purchase_ts", "purchase_event_id")
    )


QUERIES["stream_pattern_match"] = stream_pattern_match

# batch<->stream equivalence: the batch window operator's oracle verbatim
from ..operators.analytics import ORACLE as _ANALYTICS_ORACLE  # noqa: E402

ORACLE["stream_pattern_match"] = _ANALYTICS_ORACLE["events_pattern_match"]


# --- Streaming inter-arrival EWMA per user ----------------------------------

_IA_OUTPUT_SCHEMA = (
    "user_id long, ts_us long, event_id long, gap_us long, ewma double"
)
_IA_STATE_SCHEMA = "last_us long, ewma double, n long"


def _interarrival_update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user EWMA of inter-arrival gaps as explicit group state
    (last event time, current smoothed gap, events seen): each arriving
    event after the first emits its raw gap and the α=½ blend — the
    streaming health signal behind rate-anomaly alerting ("this user's
    cadence halved"). α=½ keeps every update a halving+add of exact
    integer microsecond gaps — the `timeseries_ewma_smooth` IEEE
    device — so the stream output hash-matches the batch recursive
    replay bit for bit."""
    last_us, ewma, n = state.get if state.exists else (0, 0.0, 0)
    out: dict[str, list] = {
        "user_id": [],
        "ts_us": [],
        "event_id": [],
        "gap_us": [],
        "ewma": [],
    }
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts_us, eid in zip(
            pdf["ts_us"].to_numpy("int64"),
            pdf["event_id"].to_numpy("int64"),
        ):
            if n > 0:
                gap = int(ts_us) - int(last_us)
                ewma = (
                    float(gap)
                    if n == 1
                    else 0.5 * float(gap) + 0.5 * ewma
                )
                out["user_id"].append(int(key[0]))
                out["ts_us"].append(int(ts_us))
                out["event_id"].append(int(eid))
                out["gap_us"].append(gap)
                out["ewma"].append(ewma)
            last_us = int(ts_us)
            n += 1
    state.update((int(last_us), float(ewma), int(n)))
    yield pd.DataFrame(
        {
            "user_id": pd.Series(out["user_id"], dtype="int64"),
            "ts_us": pd.Series(out["ts_us"], dtype="int64"),
            "event_id": pd.Series(out["event_id"], dtype="int64"),
            "gap_us": pd.Series(out["gap_us"], dtype="int64"),
            "ewma": pd.Series(out["ewma"], dtype="float64"),
        }
    )


def stream_interarrival_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **streaming inter-arrival EWMA** per user: the
    stateful-recurrence member of the stream pack (the
    `stream_pattern_match` batch→stream translation applied to a
    NUMERIC recurrence instead of a CEP anchor): whatever the batch
    recursion carries from the past — here (last timestamp, smoothed
    gap) — the stream carries as O(1) group state, and each event
    emits its update on arrival (append mode, no watermark
    dependency, so the bounded replay is complete without horizon
    staging).

    Determinism: gaps are exact epoch-microsecond int64 differences
    (timestamps ride as longs end-to-end — CLAUDE.md rule 6); α=½
    makes every EWMA update a halving + add on identical doubles, so
    the DuckDB recursive-CTE replay of the same recurrence
    hash-matches at 4 dp with zero tolerance. Emission starts at each
    user's SECOND event (the first has no gap).

    Scale: state is two scalars per user regardless of stream length;
    per-user time-ordered arrival between micro-batches is the same
    contract as the CEP twin (Kafka key-partitioned logs satisfy it;
    the fixture replay does)."""
    from pyspark.sql import functions as F

    ev = _events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    smoothed = ev.groupBy("user_id").applyInPandasWithState(
        _interarrival_update,
        outputStructType=_IA_OUTPUT_SCHEMA,
        stateStructType=_IA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _drain_to_memory(smoothed, spark, output_mode="append")
    from ..functions.numerics import dround

    return (
        out.select(
            "user_id",
            ntz_from_epoch_micros("ts_us").alias("ts"),
            "event_id",
            "gap_us",
            dround("ewma", 4).alias("ewma_gap_us"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


QUERIES["stream_interarrival_ewma"] = stream_interarrival_ewma

ORACLE["stream_interarrival_ewma"] = (
    "WITH RECURSIVE g AS (SELECT user_id, ts, event_id, "
    "epoch_us(ts) AS ts_us, "
    "LAG(epoch_us(ts)) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id) AS prev_us FROM events), "
    "i AS (SELECT user_id, ts, event_id, "
    "CAST(ts_us - prev_us AS BIGINT) AS gap_us, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id) AS BIGINT) AS i "
    "FROM g WHERE prev_us IS NOT NULL), "
    "rec(user_id, ts, event_id, gap_us, i, e) AS ("
    "SELECT user_id, ts, event_id, gap_us, i, CAST(gap_us AS DOUBLE) "
    "FROM i WHERE i = 1 "
    "UNION ALL "
    "SELECT i.user_id, i.ts, i.event_id, i.gap_us, i.i, "
    "CAST(0.5 AS DOUBLE) * CAST(i.gap_us AS DOUBLE) "
    "+ CAST(0.5 AS DOUBLE) * rec.e "
    "FROM i JOIN rec ON i.user_id = rec.user_id AND i.i = rec.i + 1) "
    "SELECT user_id, ts, event_id, gap_us, "
    "ROUND(e, 4) AS ewma_gap_us "
    "FROM rec ORDER BY user_id, ts, event_id"
)


# --- Streaming first-seen detection + daily new-user rollup ------------------

_FS_OUTPUT_SCHEMA = "user_id long, first_us long"
_FS_STATE_SCHEMA = "seen long"


def _first_seen_update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Exactly-once first-occurrence detection: one long of group
    state; a user's first-ever event emits (user, ts) and every later
    event is swallowed — the growth-accounting primitive ("new user")
    as O(1) state, where the batch equivalent is a full MIN over the
    user's history."""
    seen = state.get[0] if state.exists else 0
    out_u: list[int] = []
    out_t: list[int] = []
    for pdf in pdfs:
        if seen == 0 and len(pdf):
            pdf = pdf.sort_values(["ts_us", "event_id"])
            out_u.append(int(key[0]))
            out_t.append(int(pdf["ts_us"].iloc[0]))
            seen = 1
    state.update((int(seen),))
    yield pd.DataFrame(
        {
            "user_id": pd.Series(out_u, dtype="int64"),
            "first_us": pd.Series(out_t, dtype="int64"),
        }
    )


def stream_daily_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **streaming daily new-user counts**: per-user
    first-seen detection as O(1) group state (`applyInPandasWithState`
    append mode — each user's first event emits the moment it
    arrives), rolled up to new users per wall day. The STREAMING twin
    of `events_new_vs_returning`'s new_users column, and the third
    batch↔stream equivalence statement in the pack
    (`stream_pattern_match`, `stream_interarrival_ewma`): the batch
    window MIN over each user's full history becomes one long of
    state.

    Determinism: first-seen needs per-user time-ordered arrival across
    micro-batches (the established stream contract — Kafka partitions
    by user); timestamps ride as epoch-micro longs (rule 6) and
    convert to NTZ walls after the drain; counts are exact integers.

    Scale: state is ONE long per user (contrast the dedup operator's
    per-key windows); the day rollup is a tiny batch aggregate over
    the drained first-event stream."""
    from pyspark.sql import functions as F

    ev = _events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    firsts = ev.groupBy("user_id").applyInPandasWithState(
        _first_seen_update,
        outputStructType=_FS_OUTPUT_SCHEMA,
        stateStructType=_FS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _drain_to_memory(firsts, spark, output_mode="append")
    day = F.date_trunc("day", ntz_from_epoch_micros("first_us"))
    return (
        out.groupBy(day.alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("new_users"))
        .orderBy("day")
    )


QUERIES["stream_daily_new_users"] = stream_daily_new_users

# batch twin: new users per day = users whose first-ever event falls on
# that day (the events_new_vs_returning new_users column, restated)
ORACLE["stream_daily_new_users"] = (
    "WITH f AS (SELECT user_id, MIN(ts) AS first_ts FROM events "
    "GROUP BY 1) "
    "SELECT CAST(date_trunc('day', first_ts) AS TIMESTAMP) AS day, "
    "CAST(COUNT(*) AS BIGINT) AS new_users "
    "FROM f GROUP BY 1 ORDER BY day"
)
