"""Rank devices: the per-group top-k cut and the distributed rank /
prefix-sum devices (round 14).

``top_k`` is the engine's one "first k rows per group" cut (a
``row_number`` window and a ``<= k`` filter, which Spark plans as a
``WindowGroupLimit`` pair); a no-Spark test
(``tests/test_registry_contract.py::test_top_k_cut_has_one_owner``)
rejects a hand-rolled copy anywhere else. The rest of this module
serves rank statistics over fact-scale rows:

``Window.partitionBy().orderBy(v)`` over fact-scale rows plans a SINGLE
sort task no matter how many executors exist — the one window shape that
can never scale (Spark itself warns). Every rank statistic in the engine
(Mann-Whitney, Kruskal-Wallis, KS, Spearman) needs only per-distinct-value
tallies plus a running sum in value order, so the scalable form is a
two-level prefix sum:

1. ``groupBy(v)`` — one parallel shuffle, map-side combinable;
2. bucket each value by a DETERMINISTIC affine map of the value itself
   (min/max from one cheap aggregate, then
   ``floor((v - vmin) * NB / (vmax - vmin + 1))`` in exact decimal
   arithmetic — monotone, so every bucket holds a contiguous value
   range) and compute in-bucket running sums with a window partitioned
   by bucket — ~NB parallel local sorts;
3. a TINY per-bucket totals table (≤ NB rows) turned into exclusive
   bucket offsets with a driver-size window and broadcast back.

Why buckets come from VALUES and never from physical partitioning: a
first cut of this device derived slice ids from
``repartitionByRange`` + ``spark_partition_id()``, relying on
ReuseExchange to hand both consumers the same physical stage. Under AQE
the two subtrees can be planned as separate stages that re-sample range
bounds independently — the slice ids seen by the offsets table and by
the probe then disagree and the output becomes NONDETERMINISTIC (caught
by a run-to-run diff at sf0.1; sf0.01 masked it). An affine map of the
value is a pure function: both consumers always agree, under any
planner, with no reuse assumption. Skewed values can unbalance buckets
(perf, bounded by NB), but correctness is unconditional.

NOTE for new call sites (r15 ADVICE): ``running_sums_by_value`` eagerly
``localCheckpoint``s its input BY DEFAULT (``checkpoint_input=True``) —
it materializes a row copy of ``per_value`` at DataFrame-BUILD time.
That is right for the usual input (a small per-distinct-value histogram
referenced three times by the device) and wrong for a raw fact-scale
frame: pass ``checkpoint_input=False`` and pre-aggregate (or checkpoint
the smallest keyed aggregate yourself) before calling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

N_BUCKETS = 1024


def top_k(
    df: DataFrame, by: str | tuple[str, ...], k: int, *order, name: str = "rn"
) -> DataFrame:
    """Each ``by`` group's first ``k`` rows in ``order`` (which must end
    in a unique tiebreak), numbered 1..k in the int column ``name``: one
    ``row_number`` window per group. ``by`` is a column name or a tuple
    of names; ``()`` is ONE global group, a single-task sort, so only for
    driver-size frames (CLAUDE.md rule 5)."""
    keys = (by,) if isinstance(by, str) else by
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(name, F.row_number().over(w)).filter(F.col(name) <= k)


def _with_value_bucket(
    per_value: DataFrame, value_col: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """Append ``__bkt`` = the deterministic affine bucket of the value.

    Bucketing needs only two properties — DETERMINISM and (weak)
    MONOTONICITY in the value — never exactness: every bucket must hold
    a contiguous value range so in-bucket ranks + cross-bucket offsets
    compose into the global order. IEEE double subtraction /
    multiplication / division by a fixed constant and ``floor`` are all
    weakly monotone, so plain double arithmetic qualifies at any
    magnitude (a ULP wobble can only move a value to the adjacent
    bucket — still monotone); the clamp handles the v = vmax edge
    rounding up to n_buckets. Doubles instead of decimal(38,0) because
    the map runs once per fact row on both passes and decimal ops are
    ~10x slower per row."""
    bounds = per_value.agg(
        F.min(value_col).cast("double").alias("__vmin"),
        F.max(value_col).cast("double").alias("__vmax"),
    )
    v = F.col(value_col).cast("double")
    # Slack scales WITH the range (not a flat +1, which would collapse a
    # fractional range << 1 into bucket 0 and degenerate the device back
    # to a single-task sort): width = span * (1 + 1/NB) keeps v = vmax
    # strictly below n_buckets while losing < one bucket of resolution.
    # span == 0 (all rows one value) falls back to a unit width — every
    # row lands in bucket 0, which is exact for a single distinct value.
    span = F.col("__vmax") - F.col("__vmin")
    width = F.when(
        span > 0, span * F.lit(1.0 + 1.0 / float(n_buckets))
    ).otherwise(F.lit(1.0))
    bkt = F.least(
        F.greatest(
            F.floor((v - F.col("__vmin")) * F.lit(float(n_buckets)) / width),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    ).cast("long")
    return per_value.crossJoin(F.broadcast(bounds)).select(
        *per_value.columns, bkt.alias("__bkt")
    )


def running_sums_by_value(
    spark: SparkSession,
    per_value: DataFrame,
    value_col: str,
    sum_cols: list[str],
    checkpoint_input: bool = True,
) -> DataFrame:
    """Append inclusive running sums in ``value_col``-ascending order.

    ``per_value`` must have ONE row per distinct value (the caller's
    ``groupBy(value_col)`` output). For each name ``c`` in ``sum_cols``
    the result gains ``run_c`` = Σ of ``c`` over rows with value ≤ this
    row's value. All other columns pass through. Fully parallel: no
    global window over the data, no single-task sort, no physical-
    partition-identity dependence (see module docstring).

    The input is eagerly localCheckpoint-ed (round 15): the device
    references it THREE times — the min/max bounds aggregate, the
    per-bucket totals aggregate, and the final probe — and without a
    lineage cut the caller's whole upstream (typically a fact scan +
    shuffle + aggregate) executes once PER REFERENCE (CLAUDE.md
    rule 5; measured: agg_ks_two_sample re-ran its orders histogram
    3x). One row per distinct value, so the materialization is the
    histogram itself. Pass ``checkpoint_input=False`` when the caller
    already checkpointed it (it would materialize twice).
    """
    if checkpoint_input:
        per_value = per_value.localCheckpoint(eager=True)
    b = _with_value_bucket(per_value, value_col)
    # per-bucket totals: ≤ N_BUCKETS rows — the driver-size prefix level
    bucket_tot = b.groupBy("__bkt").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
    )
    w_prev = (
        Window.partitionBy()
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_tot.select(
        "__bkt",
        *[
            F.coalesce(F.sum(f"__t_{c}").over(w_prev), F.lit(0)).alias(
                f"__off_{c}"
            )
            for c in sum_cols
        ],
    )
    # in-bucket running sums: ~N_BUCKETS parallel local sorts
    w_bkt = Window.partitionBy("__bkt").orderBy(value_col)
    return b.join(F.broadcast(offsets), "__bkt").select(
        *per_value.columns,
        *[
            (F.sum(c).over(w_bkt) + F.col(f"__off_{c}")).alias(f"run_{c}")
            for c in sum_cols
        ],
    )


def doubled_rank_by_value(
    spark: SparkSession,
    per_value: DataFrame,
    value_col: str,
    count_col: str,
) -> DataFrame:
    """Append the exact doubled average rank ``dr`` per distinct value.

    ``per_value`` has one row per distinct value with ``count_col`` = tie
    count t(v). With R(v) the inclusive running count, the min-rank is
    R − t + 1 and the doubled average rank (2·avgrank — kept doubled so
    ties of even size stay exact integers) is::

        dr = 2·minrank + t − 1 = 2·R − t + 1
    """
    run = running_sums_by_value(spark, per_value, value_col, [count_col])
    return run.select(
        "*",
        (
            F.lit(2) * F.col(f"run_{count_col}") - F.col(count_col) + F.lit(1)
        ).alias("dr"),
    )


def ranked_rows_by_value(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    group_cols: list[str] | None = None,
    checkpoint_input: bool = True,
) -> DataFrame:
    """Append ``rn`` (exact 1-based rank by ``(value, *tiebreaks)``
    within each group — global when ``group_cols`` is empty) and ``n``
    (group row count) to every row, without a low-cardinality-partition
    window: value-bucket the rows, ``row_number`` within
    (group, bucket) — parallel local sorts — and add per-(group, bucket)
    exclusive offsets from a tiny broadcast count table. The tiebreak
    columns must make the sort key a total order within each group for
    the rank to be deterministic.

    ``checkpoint_input`` (round 15): the device references ``df`` three
    times (bounds, counts, probe) — the default eager checkpoint cuts
    an aggregated input's upstream to one execution (rule 5). Pass
    False when ``df`` is a RAW cached fact scan: re-scanning a columnar
    cache twice is cheaper than materializing a row copy of it."""
    gcols = list(group_cols or [])
    if checkpoint_input:
        df = df.localCheckpoint(eager=True)
    b = _with_value_bucket(df, value_col)
    keys = [*gcols, "__bkt"]
    counts = b.groupBy(*keys).agg(F.count(F.lit(1)).alias("__c"))
    w_prev = (
        (Window.partitionBy(*gcols) if gcols else Window.partitionBy())
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_grp = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    offsets = counts.select(
        *keys,
        F.coalesce(F.sum("__c").over(w_prev), F.lit(0)).alias("__off"),
        F.sum("__c").over(w_grp).alias("n"),
    )
    w_local = Window.partitionBy(*keys).orderBy(value_col, *tiebreak_cols)
    return b.join(F.broadcast(offsets), keys).select(
        *df.columns,
        (F.row_number().over(w_local) + F.col("__off")).alias("rn"),
        "n",
    )
