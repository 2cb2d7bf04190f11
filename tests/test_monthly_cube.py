"""The monthly cube (``olap.monthly_cube``): the cached single-partition
month partials of ``orders`` that every monthly-series panel reads.

- Freshness: after every keyed upsert (``upsert_by_key`` →
  ``write_upsert_parquet`` → ``clear_table_cache``), every cube-served key
  equals its DuckDB oracle over the table just written — duplicate update
  keys, keys moving across months, inserts, empty batches and null prices.
- Cost: a panel over a filled cube runs one Spark job, and a memo-hit
  cycle of the dashboard's panels compiles no generated code.
- Storage: write cycles do not accumulate cached RDDs.
- Fresh-plan timing: ``clear_plan_memo`` drops the cube's data, so a
  rebuilt panel scans ``orders`` again (bench.py's fresh-exec runs).
- Posture: shuffle-partition count, AQE and the session timezone do not
  change any cube-served result.
"""

from __future__ import annotations

import contextlib
import os
import tempfile

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark import StorageLevel

from scripts.check_parity import canon_frame
from tests.conftest import SF_SMOKE as SF
from tests.conftest import duck_over, upsert_orders, writable_orders_copy
from u_s__non_farm_payrolls_an_olap_analysis_spark import io, registry
from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.plan_cache import (
    clear_plan_memo,
)
from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import olap

# olap keys that do not read the monthly series
NOT_CUBE = {
    "scan_table",
    "project_rename",
    "project_cast",
    "filter_in_and_between",
    "scd2_customer_priority_history",
    "scd2_point_in_time_join",
}
CUBE_KEYS = tuple(k for k in olap.QUERIES if k not in NOT_CUBE)
NONUTC = "America/New_York"


def _q(key):
    return registry.queries()[key]


def _canon(spark, d: str, key: str):
    return canon_frame(_q(key)(spark, d).toPandas())


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@contextlib.contextmanager
def _conf(spark, **kv):
    prev = {k: spark.conf.get(k) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_cube_serves_exactly_the_monthly_keys(spark):
    """CUBE_KEYS is the set of olap keys whose plan reads a cached
    relation (the cube is the only one without ``io.cache_tables``)."""
    clear_plan_memo()
    reads_cache = {
        k
        for k, fn in olap.QUERIES.items()
        if "InMemoryRelation"
        in fn(spark, SF)._jdf.queryExecution().optimizedPlan().toString()
    }
    assert reads_cache == set(CUBE_KEYS)


# --- freshness under a sequence of upserts ---------------------------------

_SMOKE = pd.read_parquet(f"{SF}/orders.parquet")
_COLS = list(_SMOKE.columns)
_ROWS = list(_SMOKE.itertuples(index=False, name=None))  # Python scalars
_NEW_KEY = int(_SMOKE["o_orderkey"].max()) + 1

# (kind, source row, month shift, price): a pool of 12 source rows makes
# duplicate keys within one batch likely; None is a null price
_op = st.tuples(
    st.sampled_from(["update", "insert"]),
    st.integers(0, 11),
    st.integers(-14, 14),
    st.one_of(
        st.none(),
        st.integers(0, 50_000_000).map(lambda c: c / 100),
    ),
)


def _batch_rows(batch, n_batch: int) -> list[tuple]:
    rows = []
    for i, (kind, src, shift, price) in enumerate(batch):
        r = dict(zip(_COLS, _ROWS[src]))
        if kind == "insert":
            r["o_orderkey"] = _NEW_KEY + 100 * n_batch + i
        r["o_orderdate"] = (
            pd.Timestamp(r["o_orderdate"]) + pd.DateOffset(months=shift)
        ).to_pydatetime()
        r["o_totalprice"] = price
        rows.append(tuple(r[c] for c in _COLS))
    return rows


def _upsert(spark, d: str, rows: list[tuple]) -> None:
    tgt = io.read_table(spark, d, "orders")
    upd = spark.createDataFrame(rows, schema=tgt.schema)
    merged = io.upsert_by_key(tgt, upd, ["o_orderkey"])
    io.write_upsert_parquet(os.path.join(d, "orders.parquet"), merged)
    io.clear_table_cache()


@settings(max_examples=4, deadline=None)
@given(batches=st.lists(st.lists(_op, max_size=5), min_size=1, max_size=3))
@example(
    batches=[
        # a duplicate key (null price vs a price), a month move, an insert
        [("update", 0, 0, None), ("update", 0, 3, 123.45), ("insert", 1, -2, 10.0)],
        [],  # the empty batch
        # a null-priced row moved into a month no other order has
        [("update", 2, 120, None), ("insert", 3, 121, 77.5)],
    ]
)
def test_cube_fresh_after_every_upsert(spark, batches):
    with tempfile.TemporaryDirectory() as d:
        writable_orders_copy(d)
        oracles = registry.oracle_sql()
        for n, batch in enumerate(batches):
            _upsert(spark, d, _batch_rows(batch, n))
            con = duck_over(d)
            stale = [
                k
                for k in CUBE_KEYS
                if _canon(spark, d, k)
                != canon_frame(con.execute(oracles[k]).fetchdf())
            ]
            con.close()
            assert not stale, (n, batch, stale)


# --- cost, storage and the fresh-plan path ---------------------------------


def test_filled_cube_serves_a_panel_in_one_job(spark, tmp_path):
    d = str(tmp_path)
    writable_orders_copy(d)
    upsert_orders(spark, d)
    j0 = _next_job(spark)
    _q("slice_avg_by_year")(spark, d).collect()  # fills the cube
    assert _next_job(spark) - j0 > 1
    for key in ("rollup_quarter_qoq", "filter_threshold", "top1_by_metric"):
        j0 = _next_job(spark)
        _q(key)(spark, d).collect()
        assert _next_job(spark) - j0 == 1, key


def test_cube_storage_does_not_grow_over_writes(spark, tmp_path):
    d = str(tmp_path)
    writable_orders_copy(d)
    jsc = spark.sparkContext._jsc

    def cycle() -> int:
        upsert_orders(spark, d)
        for key in ("slice_avg_by_year", "rollup_quarter_qoq", "cache_result"):
            _q(key)(spark, d).collect()
        return jsc.getPersistentRDDs().size()

    first = cycle()
    assert [cycle() for _ in range(3)] == [first] * 3


def _dashboard():
    """perfbench's ``olap_dashboard`` panels and input tables."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "run.py")
    spec = importlib.util.spec_from_file_location("perfbench_run", path)
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    return run.OLAP_KEYS, run.OLAP_TABLES


def test_dashboard_memo_hits_compile_no_code(spark):
    """A memo hit re-runs generated code and must not recompile it. The
    dashboard's panels touch ~86 generated classes per cycle; the cube's
    roll-up panels pushed that past Spark's default 100-entry codegen
    cache (4 LRU segments), and every cycle then recompiled ~25 classes,
    a ms-scale compile each, also in panels that never read the cube."""
    keys, tables = _dashboard()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    cached = io.cache_tables(spark, SF, tables=tables)
    try:
        for _ in range(2):  # the first cycle compiles, the second settles
            for key in keys:
                _q(key)(spark, SF).collect()
        c0 = compiles.getCount()
        for key in keys:
            _q(key)(spark, SF).collect()
        assert compiles.getCount() == c0
    finally:
        io.clear_table_cache()
        for df in cached.values():
            df.unpersist()


def test_clear_plan_memo_drops_the_cube(spark):
    """bench.py's fresh-exec runs call ``clear_plan_memo()`` before every
    timed run: the rebuilt panel must scan ``orders`` again, not read the
    previous run's cube (Spark's cache matches by plan, so a cube left
    cached would serve the new plan too)."""
    clear_plan_memo()
    _q("slice_avg_by_year")(spark, SF).collect()
    cube = olap.monthly_cube(spark, SF)
    assert cube.storageLevel.useMemory
    clear_plan_memo()
    assert cube.storageLevel == StorageLevel.NONE
    df = _q("slice_avg_by_year")(spark, SF)
    j0 = _next_job(spark)
    df.collect()
    assert _next_job(spark) - j0 > 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan and "orders.parquet" in plan


# --- posture invariance ----------------------------------------------------


def _all_cube_keys(spark) -> dict:
    clear_plan_memo()  # every posture builds and fills its own cube
    return {k: _canon(spark, SF, k) for k in CUBE_KEYS}


def test_cube_keys_posture_invariant(spark):
    base = _all_cube_keys(spark)
    for parts in ("1", "17"):
        for aqe in ("true", "false"):
            with _conf(
                spark,
                **{
                    "spark.sql.shuffle.partitions": parts,
                    "spark.sql.adaptive.enabled": aqe,
                },
            ):
                got = _all_cube_keys(spark)
            diff = [k for k in CUBE_KEYS if got[k] != base[k]]
            assert not diff, (parts, aqe, diff)
    # a session zone other than UTC: what a plain session (no pinned
    # zone) sees on a non-UTC host
    with _conf(spark, **{"spark.sql.session.timeZone": NONUTC}):
        got = _all_cube_keys(spark)
    clear_plan_memo()
    diff = [k for k in CUBE_KEYS if got[k] != base[k]]
    assert not diff, (NONUTC, diff)
