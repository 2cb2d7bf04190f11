"""Deterministic numeric aggregation helpers.

Parallel double summation is order-dependent: at 100 TB a SUM over doubles
returns a slightly different last bit on every run (partition count, AQE
coalescing, and task scheduling all change accumulation order), which breaks
value-hash comparison against any single-threaded oracle and makes runs
non-reproducible.

The engine therefore sums money-like measures as **scaled 64-bit integers**:
``round(x * 10^4)`` per row (exact given identical IEEE inputs — both
engines compute the same double product and the same nearest integer), then
an integer SUM (exact, associative, order-independent), then one division
back to DOUBLE. This is both deterministic AND faster than decimal
aggregation (~1.7x on the TPC-H Q1-shape aggregate: integer adds vs
128-bit decimal adds in the hash aggregate's update loop).

Bounds: per-row scaled values need |x| < 2^53 / 10^4 ≈ 9e11 (prices are
~1e6) and the running sum fits int64 up to ~9.2e18 — at sf1000's 6e9
lineitem rows x ~3e8 scaled average that is ~2e18, still in range. For
wider domains, bump to decimal via ``dsum_decimal``.

Each helper has a DuckDB-SQL twin (``*_sql``) sharing the exact arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 10_000  # 4 fractional digits


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _nearest_long_away(x: Column) -> Column:
    """Nearest integer, ties away from zero, as LONG — pure floating-point
    (``floor`` of a double is a long in Spark), evaluated inside codegen.

    This is DuckDB's ``ROUND(x)``/C ``round()`` convention applied to the
    SAME binary double both engines computed, so the per-row scaled values
    are bitwise-identical across engines. It replaces ``F.round``, whose
    per-value BigDecimal path (shortest-decimal re-parse + setScale) costs
    ~2x the whole aggregate on a TPC-H-Q1-shape scan (measured 315 ms →
    159 ms at sf0.1) and rounds ties on the DECIMAL rendering — a
    different (not safer) edge set than the binary-tie convention.

    The naive ``floor(x + 0.5)`` carries a rare FP edge: for the largest
    double below ``n + 0.5`` the addition can round UP to ``n + 1``
    (e.g. ``0.49999999999999994 + 0.5 == 1.0``), where ``std::round``
    gives ``n``. We mask it by subtracting the carry whenever the floored
    value overshot: ``y < f - 0.5``. That guard is exact — ``f - 0.5`` is
    representable for every ``f ≤ 2^52`` (ulp ≤ 0.5 there), and above
    2^52 doubles are integers so the comparison still picks the right
    side — unlike the tempting ``f - y > 0.5``, whose subtraction itself
    rounds (``1.0 - 0.49999999999999994`` → ``0.5``) and misses the very
    case it guards. Result now matches C ``round()`` on every double in
    the documented ``|x| < 2^53`` domain (unit-tested on the edges)."""
    y = F.abs(x)
    f = F.floor(y + F.lit(0.5))
    f = F.when(y < f.cast("double") - F.lit(0.5), f - F.lit(1)).otherwise(f)
    return F.when(x >= 0, f).otherwise(-f)


def dsum(col: Column | str, scale: int = SCALE) -> Column:
    """Order-independent SUM of a money-like double (scaled-int inside).
    ``scale`` sets the preserved fractional precision (10^k per digit)."""
    return F.sum(_nearest_long_away(_c(col) * scale)) / float(scale)


def dsum_scaled(col: Column | str, scale: int = SCALE) -> Column:
    """Scaled-int64 partial SUM, NOT descaled: for multi-stage merges
    (e.g. a foreachBatch upsert state) where partials are re-aggregated
    exactly as longs across batches and descaled once at the end."""
    return F.sum(_nearest_long_away(_c(col) * scale))


def descale(scaled: Column | str, scale: int = SCALE) -> Column:
    """4-dp dollars off a scaled-int64 sum: ``F.round(dsum(x), 4)`` is
    ``descale(dsum_scaled(x))``, the same expression."""
    return F.round(_c(scaled) / float(scale), 4)


def d38(col: Column | str) -> Column:
    """Widen to DECIMAL(38,0) (≡ DuckDB HUGEINT) before exact integer
    products whose magnitudes outgrow int64."""
    return _c(col).cast("decimal(38,0)")


def davg(col: Column | str, scale: int = SCALE) -> Column:
    """Order-independent AVG: scaled-int sum / non-null count."""
    c = _c(col)
    return davg_partials(F.sum(_nearest_long_away(c * scale)), F.count(c), scale)


def davg_partials(total_scaled: Column, n_nonnull: Column, scale: int = SCALE) -> Column:
    """``davg`` off its additive partials: a scaled-int sum over its
    non-null count, so averages of any coarser grain roll up exactly
    and a null value cannot shift the denominator."""
    return total_scaled / float(scale) / n_nonnull


def dround(col: Column | str, digits: int) -> Column:
    """Fast per-row ROUND(x, digits) — ties away from zero on the binary
    double, identical arithmetic to DuckDB's ``ROUND(x, d)`` (multiply by
    10^d, nearest-away, divide) but ~2x faster than ``F.round``'s
    BigDecimal path. Required for per-ROW rounding in scan-sized
    projections AND for any 6-dp ratio emitted once per row/doc/pair —
    at sf0.1 cardinalities ``F.round``'s rendered-decimal ties diverge
    from DuckDB's FP ties-away on real data (two round-10 hits).
    ``F.round`` remains fine for small per-GROUP outputs and for 4-dp
    money rounding of scaled-int sums (identity there)."""
    s = float(10**digits)
    return (_nearest_long_away(_c(col) * s) / s).cast("double")


def dsum_decimal(col: Column | str) -> Column:
    """Decimal-backed variant for domains beyond the scaled-int bounds."""
    return F.sum(_c(col).cast("decimal(28,4)")).cast("double")


def l1_quantize(raw: DataFrame, key: str, scale: float) -> DataFrame:
    """One normalize-and-quantize step of an exact power iteration:
    ``(key, raw)`` → ``(key, q)`` with ``q = round(raw / Σraw · scale)``
    ties away from zero — both engines round the identical double off
    exact integer sums (DuckDB: ``CAST(ROUND(CAST(raw AS DOUBLE) /
    CAST(t AS DOUBLE) * scale) AS BIGINT)``). ``raw`` is checkpointed
    first: the total and the normalize both read it, so an unrolled
    iteration without the cut doubles its plan per step."""
    raw = raw.localCheckpoint(eager=True)
    tot = raw.agg(F.sum("raw").alias("t"))
    return raw.crossJoin(F.broadcast(tot)).select(
        key,
        _nearest_long_away(
            F.col("raw").cast("double")
            / F.col("t").cast("double")
            * F.lit(scale)
        ).alias("q"),
    )


def dsum_sql(expr: str, scale: int = SCALE) -> str:
    return (
        f"(CAST(SUM(CAST(ROUND(({expr}) * {scale}) AS BIGINT)) AS DOUBLE) "
        f"/ {scale}.0)"
    )


def davg_sql(expr: str, scale: int = SCALE) -> str:
    return (
        f"(CAST(SUM(CAST(ROUND(({expr}) * {scale}) AS BIGINT)) AS DOUBLE) "
        f"/ {scale}.0 / COUNT({expr}))"
    )
