"""Time-dimension expression library (SURVEY §2.8 F1–F7).

Every derived time column the reference computes ad hoc in pandas
(``dashboard_nfp.py:85,114,198,245-246,300``) becomes a pure Catalyst
expression here, so Catalyst can constant-fold, push filters through them,
and keep the whole pipeline inside whole-stage codegen. No Python UDFs:
even the decade bucket — the reference's one lambda UDF
(``dashboard_nfp.py:300``) — is a builtin ``concat(floor(year/10)*10, 's')``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from .numerics import dsum_scaled


def year_of(col: Column | str) -> Column:
    """F1 — EXTRACT(YEAR ...) (`dashboard_nfp.py:85`). INT for oracle parity."""
    return F.year(col).cast("int")


def month_of(col: Column | str) -> Column:
    """F2 — EXTRACT(MONTH ...) (`dashboard_nfp.py:114`)."""
    return F.month(col).cast("int")


def quarter_of(col: Column | str) -> Column:
    """F3 — EXTRACT(QUARTER ...) / pandas ``to_period('Q')``
    (`dashboard_nfp.py:246`)."""
    return F.quarter(col).cast("int")


def month_name(col: Column | str) -> Column:
    """F4 — ``strftime('%B')`` full month name (`dashboard_nfp.py:198`).

    ``date_format(..., 'MMMM')`` is locale-sensitive; the engine pins the
    JVM default locale to en-US semantics in tests (matches DuckDB
    ``monthname``).
    """
    return F.date_format(col, "MMMM")


def month_start(col: Column | str) -> Column:
    """Month bucket — the grain of the reference's fact table (one row per
    month, `etl.py:58-63`). Kept as TIMESTAMP (midnight) rather than DATE so
    the pandas/Arrow representation matches DuckDB's (which materializes
    DATE as datetime64 anyway) for stable value-hash comparison."""
    return F.date_trunc("month", col)


def monthly_partials(orders: DataFrame, *keys: Column | str) -> DataFrame:
    """The engine's monthly series: ``orders`` grouped by ``(*keys,
    month_start(o_orderdate))`` into the additive partials ``(*keys, ms,
    n_orders, total_scaled, n_priced)`` — order count, scaled-int64
    ``o_totalprice`` sum (``numerics.dsum_scaled``, NOT descaled) and
    non-null price count. All three partials are exact longs, so
    partials of any split of the rows sum to the partials of the whole
    (the monoid an incremental fold relies on); ``numerics.descale``
    turns ``total_scaled`` into the same 4-dp dollars as
    ``F.round(dsum(o_totalprice), 4)``, and Σ``total_scaled`` / SCALE /
    Σ``n_priced`` is ``davg(o_totalprice)`` over any coarser grain. The
    only month group-by of ``orders`` in the engine
    (``tests/test_registry_contract.py::test_monthly_series_has_one_owner``);
    Catalyst prunes whichever partial a caller does not read."""
    return orders.groupBy(*keys, month_start("o_orderdate").alias("ms")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum_scaled("o_totalprice").alias("total_scaled"),
        F.count("o_totalprice").alias("n_priced"),
    )


def monthly_revenue(
    orders: DataFrame, *keys: Column | str, rev: str = "rev_s"
) -> DataFrame:
    """:func:`monthly_partials`' scaled revenue as the analytics
    families' series ``(*keys, mon, rev)``. The rename collapses into
    the aggregate, so the plan is that of a hand-written group-by."""
    p = monthly_partials(orders, *keys)
    return p.select(
        *p.columns[: len(keys)],
        F.col("ms").alias("mon"),
        F.col("total_scaled").alias(rev),
    )


def decade_label(year_col: Column) -> Column:
    """F6/F7 — decade bucket, total-function lambda semantics
    (`dashboard_nfp.py:300`): 1997 → '1990s'. Builtin expression, not a UDF."""
    return F.concat(
        (F.floor(year_col / 10) * 10).cast("int").cast("string"), F.lit("s")
    )


def months_between_int(later: Column, earlier: Column) -> Column:
    """F5 — whole-month delta ``(y2-y1)*12 + (m2-m1)`` (`dashboard_nfp.py:168`).

    Computed on year/month parts (not ``months_between``) so it is exact on
    month-start dates and matches DuckDB ``date_diff('month', ...)``.
    """
    return (
        (F.year(later) - F.year(earlier)) * 12 + (F.month(later) - F.month(earlier))
    ).cast("int")


def pct_change(col: Column, w: WindowSpec) -> Column:
    """W1/W2 — lag-1 percent change, the reference's central device
    (pandas ``pct_change()*100``, `etl.py:37`; SQL ``LAG`` form
    `dashboard_nfp.py:179-188`). NULL on the first row of each partition —
    callers decide whether to drop (the reference drops, `etl.py:38`)."""
    prev = F.lag(col, 1).over(w)
    return (col - prev) * 100.0 / prev


def diff(col: Column, w: WindowSpec) -> Column:
    """W3 — lag-1 difference (pandas ``diff()``, `dashboard_nfp.py:339`)."""
    return col - F.lag(col, 1).over(w)


def running_max_prior(col: Column, w_order: WindowSpec) -> Column:
    """W4 — running max over *strictly preceding* rows: the 'prior peak'
    (`dashboard_nfp.py:161`). Explicit frame spec; NULL on the first row."""
    return F.max(col).over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )


def ntz_from_epoch_micros(us: Column | str) -> Column:
    """Epoch-microseconds → TIMESTAMP_NTZ via pure interval arithmetic.

    ``timestamp_micros(us).cast("timestamp_ntz")`` renders the instant's
    wall clock in ``spark.sql.session.timeZone`` — under a session that
    does not pin UTC (the driver's plain session) the same fixture would
    decode to different wall times on different hosts. Adding an exact
    day-time interval to the NTZ epoch instead keeps the conversion
    timezone-independent: wall time == the instant's UTC rendering,
    always, matching DuckDB's naive-timestamp semantics. The decimal
    division is exact (micros have ≤6 fractional digits), so this is
    bit-identical to the UTC-session cast path.
    """
    us_col = F.col(us) if isinstance(us, str) else us
    secs = us_col.cast("decimal(26,6)") / F.lit(1_000_000)
    return F.lit("1970-01-01 00:00:00").cast("timestamp_ntz") + F.make_dt_interval(
        secs=secs
    )


def ntz_from_instant(ts: Column | str) -> Column:
    """TIMESTAMP instant → its UTC wall clock as TIMESTAMP_NTZ,
    independent of the session timezone (``unix_micros`` is pure epoch
    arithmetic; see :func:`ntz_from_epoch_micros`)."""
    return ntz_from_epoch_micros(F.unix_micros(ts))


def epoch_micros_from_ntz(ts: Column | str) -> Column:
    """TIMESTAMP_NTZ wall clock → epoch microseconds (wall read as UTC),
    as pure wall-part arithmetic — the exact inverse of
    :func:`ntz_from_epoch_micros`.

    ``unix_micros(ntz.cast("timestamp"))`` interprets the wall in the
    session timezone, so under a non-UTC session the epoch shifts by the
    zone offset (and gaps computed across a DST transition shift by an
    hour). date/hour/minute/second parts of an NTZ value involve no
    timezone at all; ``extract(SECOND)`` is DECIMAL(8,6), so microseconds
    survive exactly. Negative epochs floor correctly (datediff of a
    pre-1970 date is negative; the time-of-day parts add back).
    """
    ts_col = F.col(ts) if isinstance(ts, str) else ts
    days = F.datediff(ts_col.cast("date"), F.lit("1970-01-01").cast("date"))
    whole = (
        days.cast("long") * 86_400
        + F.hour(ts_col).cast("long") * 3_600
        + F.minute(ts_col).cast("long") * 60
    )
    frac_us = (F.extract(F.lit("SECOND"), ts_col) * 1_000_000).cast("long")
    return whole * 1_000_000 + frac_us
