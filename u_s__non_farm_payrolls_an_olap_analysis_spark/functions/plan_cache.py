"""Analyzed-plan reuse for pure read-only operators.

Measured round 4/5 (BENCH decomposition, `BASELINE.md`): a headline query
at sf0.1 spends 19-45 ms executing and 50-180 ms BUILDING the DataFrame —
py4j round-trips for every Column expression plus Catalyst re-analysis of
an identical tree on every invocation. That cost is pure waste for a
repeated query: the operators are referentially transparent (same
(session, sf_dir) → same logical plan), so the built DataFrame can be
memoized and re-executed — exactly what any OLAP serving layer does with
prepared statements. DuckDB's sub-ms parse makes re-planning free; Spark's
isn't, so steady-state parity requires reuse, not rebuild.

The rule: every ``bench.py`` HEADLINE key and every other
reference-dashboard panel (``rollup_year_sum``, ``dice_q4_avg_by_month``,
``window_pct_change_global``, ``drill_sharpest_drop``,
``dice_recovery_asof``) is served from this memo. A repeated panel
re-executes one analyzed DataFrame: it skips the py4j build and Catalyst
analysis, optimization and planning, and Spark reuses its materialized
shuffle stages. ``tests/test_plan_memo.py`` pins the rule and its
invalidation after a write (``io.clear_table_cache`` drops every entry).

Scope: ONLY operators that are pure functions of (spark, sf_dir) with no
side effects and no conf-sensitivity at analysis time. A lazy
``.cache()`` counts as pure: it runs nothing at build time, and the
first action fills it (``olap.monthly_cube``, the cached month partials
every monthly-series panel reads). Operators that materialize state on
first build (layout writes, streaming drains, eager checkpoints) or
exist to demonstrate conf-dependent planning (AQE skew) must NOT be
memoized. Physical planning still happens lazily per DataFrame, so a
memoized plan executes under whatever physical conf is current when its
FIRST action runs.

The memo key includes the Spark applicationId: a new session (new JVM,
new exprIds) never sees another session's plans. Entries are unbounded
but tiny (a DataFrame handle per (operator, sf_dir)).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MEMO: dict[tuple[str, str, str, str], DataFrame] = {}


def plan_memo(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Memoize a pure (spark, sf_dir) -> DataFrame operator per session."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (
            fn.__module__,
            fn.__qualname__,
            spark.sparkContext.applicationId,
            sf_dir,
        )
        df = _MEMO.get(key)
        if df is None:
            df = fn(spark, sf_dir)
            _MEMO[key] = df
        return df

    return wrapper


def clear_plan_memo() -> None:
    """Drop every memoized plan (tests / cache-layout changes) and
    unpersist the cached ones. Spark's cache matches by plan, and a
    re-read of a rewritten table path is the same plan: a cached entry
    left behind would serve the rebuilt plan the pre-write data.
    Entries of a stopped session are only dropped."""
    for df in _MEMO.values():
        if df.is_cached and df.sparkSession.sparkContext._jsc is not None:
            df.unpersist()
    _MEMO.clear()
