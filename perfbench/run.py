"""The repository's benchmark: two closed-loop workloads, one client each.

    python3 perfbench/run.py --workload olap_dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` (gen.py); the engine only ever sees those files.
Every output is checked (DuckDB oracles from ``registry.oracle_sql()``).
The last stdout line is one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer ones (spans of the traced run
go to ``.perfbench_work/trace-<workload>-<seed>.json``). The lines before
it list every metric with its unit and sample count.

Workloads (see BENCHMARK.json for why each exists):

- ``olap_dashboard``: 15 dashboard panels on cached sf0.1 inputs, memo hits.
- ``etl_upsert``: keyed upsert of a seeded update batch into a writable
  sf0.1 ``orders`` copy, then 4 reads of the fresh table.

Posture is pinned here, not taken from engine defaults: ``local[nproc]``,
``nproc`` shuffle partitions, a driver heap of a quarter of host RAM (at
most 4 GiB), and ``PYTHONPATH`` pointing at the repository so Python
workers can import the package from any working directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import NoTracer, Tracer  # noqa: E402

OLAP_KEYS = [
    # the 10 bench.py headline keys
    "slice_avg_by_year", "filter_in_and_between", "filter_threshold",
    "rollup_quarter_qoq", "top1_by_metric", "join_agg_pricing",
    "join_shuffle_3way", "window_rank_topk_per_group", "sessionize_batch",
    "rollup_decade_avg",
    # the rest of the reference dashboard's questions
    "dice_q4_avg_by_month", "drill_sharpest_drop", "dice_recovery_asof",
    "window_pct_change_global", "rollup_year_sum",
]
OLAP_TABLES = ("orders", "lineitem", "customer", "nation", "events")
# per-key latency keeps falling through the first cycles (JIT); with fewer
# than 3 warm cycles the timed medians depend on how many cycles fit a run
OLAP_WARM_CYCLES = 3
ETL_READS = [
    "slice_avg_by_year",  # the freshness read: first after every write
    "rollup_quarter_qoq", "filter_threshold", "top1_by_metric",
]
ETL_BATCH_ROWS = 1500
# untimed warm-up cycles: the write falls from ~4 s to ~0.46 s by cycle 5-6
# on a 4-core host, then drifts down only slowly (~0.36 s by cycle 25)
ETL_WARM_CYCLES = 8
SF = 0.1
NOOP_RUNS = 7


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# --------------------------------------------------------------- posture --

def posture(work: str) -> dict:
    nproc = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap_mb = min(4096, ram_mb // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # before the JVM and any Python worker start: workers inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    return {
        "nproc": nproc,
        "heap_mb": heap_mb,
        "conf": {
            "spark.driver.memory": f"{heap_mb}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Xlog:all=warning:stderr:uptime,level,tags "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:-UsePerfData"  # no hsperfdata file outside the checkout
            ),
        },
    }


# ---------------------------------------------------------------- checks --

def _row_hash(r) -> int:
    try:
        return hash(r)
    except TypeError:  # array or map cells
        return hash(repr(tuple(r)))


def fingerprint(rows) -> tuple[int, int]:
    """Order-insensitive digest of collected rows (count, summed hashes)."""
    return len(rows), sum(map(_row_hash, rows)) & (2**64 - 1)


class Oracle:
    """DuckDB twins of the registry keys over the same parquet files."""

    def __init__(self, data_dir: str, tables) -> None:
        import duckdb

        from scripts.check_parity import canon_frame
        from u_s__non_farm_payrolls_an_olap_analysis_spark import registry

        self.canon = canon_frame
        self.sql = registry.oracle_sql()
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for t in tables:
            self.view(t, os.path.join(data_dir, f"{t}.parquet"))

    def view(self, table: str, path: str) -> None:
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        self.con.execute(
            f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM read_parquet('{src}')"
        )

    def check(self, key: str, rows, columns) -> bool:
        """Spark rows == oracle rows, canonicalized like check_parity."""
        import pandas as pd

        def nulls(df):  # collect() gives None where fetchdf() gives NaT
            return df.astype(object).where(df.notna(), None)

        got = self.canon(nulls(pd.DataFrame.from_records(
            [tuple(r) for r in rows], columns=columns)))
        want = self.canon(nulls(self.con.execute(self.sql[key]).fetchdf()))
        return got == want


# ---------------------------------------------------------------- engine --

class Engine:
    """The benchmark's handle on one SparkSession and its probes."""

    def __init__(self, pst: dict, tr) -> None:
        from u_s__non_farm_payrolls_an_olap_analysis_spark import registry
        from u_s__non_farm_payrolls_an_olap_analysis_spark.session import get_spark

        self.tr = tr
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            n = pst["nproc"]
            self.spark = get_spark(
                app_name="perfbench", master=f"local[{n}]",
                shuffle_partitions=n, extra_conf=pst["conf"],
            )
        self.get_spark_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.queries = registry.queries()
        self.jvm_proc = getattr(self.sc._gateway, "proc", None)
        self.last_df: dict[str, object] = {}
        self.per_req: list[dict] = []  # traced runs only
        self.probe_s = 0.0

    def noop_floor_ms(self) -> list[float]:
        out = []
        for _ in range(NOOP_RUNS):
            t = time.perf_counter()
            self.spark.range(1).collect()
            out.append((time.perf_counter() - t) * 1e3)
        return out

    def gc(self) -> tuple[float, int]:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return (sum(b.getCollectionTime() for b in beans),
                sum(b.getCollectionCount() for b in beans))

    def next_job_id(self) -> int:
        return self.sc._jsc.sc().dagScheduler().nextJobId()

    def request(self, key: str, data_dir: str, traced: bool):
        """Build + collect one registry key; returns (rows, columns, s).
        Under tracing, also records layer counts for the request."""
        tr = self.tr
        if traced:
            tr.request = f"{key}#{len(self.per_req)}"
            self.sc.setJobGroup(tr.request, key)
            job0 = self.next_job_id()
        t0 = time.perf_counter()
        with tr.span("request"):
            with tr.span("operators.build"):
                df = self.queries[key](self.spark, data_dir)
            t1 = time.perf_counter()
            with tr.span("spark.action"):
                rows = df.collect()
        t2 = time.perf_counter()
        if traced:
            with tr.span("trace.probe"):
                self._record(key, df, len(rows), job0, t1 - t0, t2 - t1)
            self.probe_s += self.tr.spans[-1]["end"] - self.tr.spans[-1]["start"]
        self.last_df[key] = df
        return rows, df.columns, t2 - t0

    def _record(self, key, df, n_rows, job0, build_s, action_s) -> None:
        st = self.sc.statusTracker()
        jobs = range(job0, self.next_job_id())
        stage_ids = [s for j in jobs if (ji := st.getJobInfo(j)) for s in ji.stageIds]
        infos = [i for s in stage_ids if (i := st.getStageInfo(s))]
        hit = self.last_df.get(key) is df
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        if not hit:
            it = df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in phases:
                    phases[kv._1()] = float(kv._2().durationMs())
        self.per_req.append({
            "key": key, "hit": hit, "rows": n_rows, "jobs": len(jobs),
            "stages": sum(1 for i in infos if i.numCompletedTasks > 0),
            "tasks": sum(i.numCompletedTasks for i in infos),
            "build_ms": build_s * 1e3, "action_ms": action_s * 1e3, **phases,
        })

    def stop(self) -> None:
        self.spark.stop()
        proc = self.jvm_proc
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, ValueError):
                pass
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()


# -------------------------------------------------------------- workloads --

class Run:
    """State of one benchmark run: samples, counts and set-up phases."""

    def __init__(self, args, work: str, eng: Engine) -> None:
        import numpy as np

        self.args = args
        self.work = work
        self.eng = eng
        self.tr = eng.tr
        self.traced = bool(args.trace)
        # order permutations and update batches: a stream no table uses
        self.rng = np.random.default_rng([args.seed, len(gen.ALL_TABLES)])
        self.lat_s: dict[str, list[float]] = {}  # timed latencies per key
        self.cycle_s: list[float] = []  # etl: write + reads, per cycle
        self.attempted = 0
        self.failed = 0
        self.setup: dict[str, float] = {"session.get_spark_s": eng.get_spark_s}
        self.extra: dict[str, tuple[float, str, int]] = {}
        self.timed_from = None
        self.gc0 = (0.0, 0)
        self.warm_writes_ms: list[float] = []

    def ok(self, passed: bool, what: str) -> None:
        self.attempted += 1
        if not passed:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def sample(self, key: str, dt: float) -> None:
        self.lat_s.setdefault(key, []).append(dt)

    def start_timed(self) -> None:
        self.timed_from = time.perf_counter()
        self.gc0 = self.eng.gc()

    def running(self) -> bool:
        return time.perf_counter() - self.timed_from < self.args.seconds

    def order(self, keys: list[str]) -> list[str]:
        """The seed permutes the order within a cycle, never the mix."""
        return [keys[i] for i in self.rng.permutation(len(keys))]


def olap_dashboard(run: Run, data_dir: str) -> None:
    """Closed loop over whole cycles of the 15 panels on cached inputs.

    Untimed warm cycles come first: the first fills the plan memo and its
    results are checked against the oracles; each timed result must match
    its warm one."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark import io

    eng = run.eng
    t = time.perf_counter()
    with run.tr.span("io.cache_tables"):
        io.cache_tables(eng.spark, data_dir, tables=OLAP_TABLES)
    run.setup["io.cache_tables_s"] = time.perf_counter() - t
    t = time.perf_counter()
    warm = {key: eng.request(key, data_dir, traced=False)[:2] for key in OLAP_KEYS}
    for _ in range(OLAP_WARM_CYCLES - 1):
        for key in OLAP_KEYS:
            eng.request(key, data_dir, traced=False)
    run.setup["setup.warmup_s"] = time.perf_counter() - t
    oracle = Oracle(data_dir, OLAP_TABLES)
    verified = {k: fingerprint(r) if oracle.check(k, r, c) else None
                for k, (r, c) in warm.items()}
    run.start_timed()
    while run.running():
        for key in run.order(OLAP_KEYS):
            rows, _, dt = eng.request(key, data_dir, run.traced)
            run.sample(key, dt)
            run.ok(verified[key] is not None and fingerprint(rows) == verified[key],
                   f"{key} ({'oracle' if verified[key] is None else 'changed'})")


def etl_upsert(run: Run, data_dir: str) -> None:
    """Keyed upsert then four reads per cycle, on a table of constant size."""
    import pyarrow.parquet as pq

    from u_s__non_farm_payrolls_an_olap_analysis_spark import io

    eng, tr = run.eng, run.tr
    spark = eng.spark
    etl_dir = os.path.join(run.work, "etl")
    target = os.path.join(etl_dir, "orders.parquet")
    os.makedirs(target)
    shutil.copy(os.path.join(data_dir, "orders.parquet"),
                os.path.join(target, "part-0.parquet"))
    n_orders = pq.read_metadata(os.path.join(target, "part-0.parquet")).num_rows
    n_cust = gen.sizes(SF)["customer"]
    oracle = Oracle(data_dir, ())
    oracle.con.execute(
        f"CREATE TABLE expected AS SELECT * FROM read_parquet('{target}/*.parquet')")
    key_cols = ["o_orderkey"]
    payload = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority"]
    # io.upsert_by_key's tie-break between duplicate update keys: payload
    # columns descending, in update-column order
    tie = ", ".join(f"{c} DESC" for c in payload)
    schema = io.read_table(spark, etl_dir, "orders").schema
    io.clear_table_cache()

    def batch():
        import pyarrow as pa

        keys = run.rng.integers(0, n_orders, ETL_BATCH_ROWS)  # repeats on purpose
        t = pa.table({"o_orderkey": pa.array(keys, pa.int64()),
                      **gen.order_payload(run.rng, ETL_BATCH_ROWS, n_cust)})
        return t, spark.createDataFrame(t.to_pandas(), schema=schema)

    def cycle(traced: bool, check: bool) -> dict:
        upd_arrow, upd = batch()
        user_bytes = upd_arrow.nbytes
        if traced:
            tr.request = f"cycle#{len(eng.per_req)}"
        out = {"reads": {}}
        probe0 = eng.probe_s
        t0 = time.perf_counter()
        with tr.span("cycle"):
            with tr.span("io.read_table"):
                tgt = io.read_table(spark, etl_dir, "orders")
            t = time.perf_counter()
            with tr.span("io.upsert_by_key"):
                merged = io.upsert_by_key(tgt, upd, key_cols)
            t1 = time.perf_counter()
            with tr.span("io.write_upsert_parquet"):
                io.write_upsert_parquet(target, merged)
            t2 = time.perf_counter()
            with tr.span("io.clear_table_cache"):
                io.clear_table_cache()
            out["ingest_s"] = t2 - t
            out["upsert_ms"], out["write_ms"] = (t1 - t) * 1e3, (t2 - t1) * 1e3
            t = time.perf_counter()
            with tr.span("io.read_table"):
                io.read_table(spark, etl_dir, "orders")  # relation rebuild
            rebuild_s = time.perf_counter() - t
            out["read_table_ms"] = rebuild_s * 1e3
            for i, key in enumerate(ETL_READS):
                rows, cols, dt = eng.request(key, etl_dir, traced)
                if i == 0:  # from the start of the write to the fresh result
                    dt += rebuild_s
                    out["fresh_s"] = t + dt - t0
                out["reads"][key] = (rows, cols, dt)
        # the traced run's own bookkeeping is not cycle time
        out["cycle_s"] = time.perf_counter() - t0 - (eng.probe_s - probe0)
        out["bytes"] = sum(
            os.path.getsize(os.path.join(target, f)) for f in os.listdir(target))
        out["user_bytes"] = user_bytes
        # untimed: the DuckDB twin of the table follows every batch; timed
        # cycles check the write against it and each read against its
        # oracle on the table just written
        con = oracle.con
        con.register("upd", upd_arrow)
        con.execute(f"""
            CREATE OR REPLACE TABLE expected AS
            SELECT * EXCLUDE (prio) FROM (
                SELECT *, 1 AS prio FROM upd
                UNION ALL BY NAME SELECT *, 0 AS prio FROM expected)
            QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY prio DESC, {tie}) = 1
        """)
        con.unregister("upd")
        if not check:
            return out
        oracle.view("orders", target)
        diff = con.execute("""
            SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM orders))
                 + (SELECT count(*) FROM (SELECT * FROM orders EXCEPT ALL SELECT * FROM expected))
        """).fetchone()[0]
        out["write_ok"] = diff == 0
        out["read_ok"] = {k: oracle.check(k, r, c) for k, (r, c, _) in out["reads"].items()}
        return out

    warm = [cycle(traced=False, check=False) for _ in range(ETL_WARM_CYCLES)]
    run.setup["setup.warmup_s"] = sum(c["cycle_s"] for c in warm)
    run.warm_writes_ms = [c["write_ms"] for c in warm]

    fresh, ingest = [], []
    rows_in = bytes_out = bytes_user = 0
    sizes, cycles = [], 0
    run.start_timed()
    while run.running():
        c = cycle(run.traced, check=True)
        cycles += 1
        run.cycle_s.append(c["cycle_s"])
        run.ok(c["write_ok"], "upsert write")
        for key, (_, _, dt) in c["reads"].items():
            run.sample(key, dt)
            run.ok(c["read_ok"][key], f"{key} after write")
        fresh.append(c["fresh_s"])
        ingest.append(c["ingest_s"])
        rows_in += ETL_BATCH_ROWS
        bytes_out += c["bytes"]
        bytes_user += c["user_bytes"]
        sizes.append(c["bytes"])
        if run.traced:
            eng.per_req.append({"io": True, **{k: c[k] for k in (
                "upsert_ms", "write_ms", "read_table_ms")}})
    run.extra.update({
        "etl.freshness_p50_s": (statistics.median(fresh), "s", len(fresh)),
        "io.ingest_rows_per_s": (rows_in / sum(ingest), "1/s", cycles),
        "io.bytes_written_per_user_byte": (bytes_out / bytes_user, "ratio", cycles),
        "io.target_bytes": (float(statistics.median(sizes)), "bytes", cycles),
        "io.target_bytes_range": (float(max(sizes) - min(sizes)), "bytes", cycles),
    })


WORKLOADS = {"olap_dashboard": olap_dashboard, "etl_upsert": etl_upsert}

# --------------------------------------------------------------- metrics --

ETL_METRICS = {"etl.freshness_p50_s": "s", "io.ingest_rows_per_s": "1/s",
               "io.bytes_written_per_user_byte": "ratio", "io.target_bytes": "bytes",
               "io.target_bytes_range": "bytes"}
SPAN_LAYERS = ["request", "operators.build", "spark.action", "cycle",
               "io.read_table", "io.upsert_by_key", "io.write_upsert_parquet",
               "io.clear_table_cache", "trace.probe"]


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def end_to_end(run: Run) -> dict[str, tuple[float, str, int]]:
    """Per-key medians first, so one slow request or an uneven number of
    samples per key cannot move a run's figure: throughput is one cycle of
    median requests (etl: the median whole cycle, write included), and the
    typical latency is the geometric mean of the per-key medians, the
    usual summary of a mix whose keys differ 40x in cost."""
    med = {k: statistics.median(v) for k, v in run.lat_s.items()}
    n = sum(len(v) for v in run.lat_s.values())
    cycle = statistics.median(run.cycle_s) if run.cycle_s else sum(med.values())
    setup = sum(v for k, v in run.setup.items() if k.endswith("_s"))
    return {
        "setup_s": (setup, "s", 1),
        "ok_ratio": ((run.attempted - run.failed) / run.attempted, "ratio",
                     run.attempted),
        "queries_per_s": (len(med) / cycle, "1/s", n),
        "query_geomean_ms": (
            math.exp(statistics.fmean(map(math.log, med.values()))) * 1e3, "ms", n),
    }


def per_layer(run: Run, host: dict) -> dict[str, tuple[float, str, int]]:
    eng = run.eng
    reqs = [r for r in eng.per_req if "key" in r]
    cycles = [r for r in eng.per_req if "io" in r]
    lat = [x for v in run.lat_s.values() for x in v]
    n = len(lat)
    col = lambda rs, f: [r[f] for r in rs]  # noqa: E731
    m = {
        "query_p50_ms": (_med(lat) * 1e3, "ms", n),
        "session.get_spark_s": (run.setup["session.get_spark_s"], "s", 1),
        "io.cache_tables_s": (run.setup.get("io.cache_tables_s", 0.0), "s", 1),
        "setup.warmup_s": (run.setup["setup.warmup_s"], "s", 1),
        "plan_cache.hit_ratio": (_mean(col(reqs, "hit")), "ratio", len(reqs)),
        "operators.build_ms": (_med(col(reqs, "build_ms")), "ms", len(reqs)),
        "catalyst.analysis_ms": (_mean(col(reqs, "analysis")), "ms", len(reqs)),
        "catalyst.optimization_ms": (_mean(col(reqs, "optimization")), "ms", len(reqs)),
        "catalyst.planning_ms": (_mean(col(reqs, "planning")), "ms", len(reqs)),
        "spark.action_ms": (_med(col(reqs, "action_ms")), "ms", len(reqs)),
        "spark.jobs_per_query": (_mean(col(reqs, "jobs")), "count", len(reqs)),
        "spark.stages_per_query": (_mean(col(reqs, "stages")), "count", len(reqs)),
        "spark.tasks_per_query": (_mean(col(reqs, "tasks")), "count", len(reqs)),
        "result.rows_per_query": (_mean(col(reqs, "rows")), "count", len(reqs)),
        "io.read_table_ms": (_med(col(cycles, "read_table_ms")), "ms", len(cycles)),
        "io.upsert_by_key_ms": (_med(col(cycles, "upsert_ms")), "ms", len(cycles)),
        "io.write_upsert_parquet_ms": (_med(col(cycles, "write_ms")), "ms", len(cycles)),
    }
    for name, unit in ETL_METRICS.items():  # zero where nothing is written
        m[name] = run.extra.get(name, (0.0, unit, 0))
    self_s = run.tr.self_times(since=run.timed_from)
    for name in SPAN_LAYERS:
        m[f"self.{name}_ms"] = (self_s.get(name, 0.0) * 1e3 / max(n, 1), "ms", n)
    m["trace.queries_per_s"] = end_to_end(run)["queries_per_s"]
    m["trace.self_ms_per_query"] = (eng.probe_s * 1e3 / max(n, 1), "ms", n)
    m.update(host)
    return m


def host_record(run: Run, pst: dict, load0: float, floor: list[float],
                gc1: tuple[float, int]) -> dict:
    return {
        "host.nproc": (float(pst["nproc"]), "count", 1),
        "host.driver_heap_mb": (float(pst["heap_mb"]), "MiB", 1),
        "host.load1_start": (load0, "load", 1),
        "host.load1_end": (os.getloadavg()[0], "load", 1),
        "spark.noop_floor_ms": (_med(floor), "ms", len(floor)),
        "jvm.gc_ms": (float(gc1[0] - run.gc0[0]), "ms", 1),
        "jvm.gc_count": (float(gc1[1] - run.gc0[1]), "count", 1),
    }


# ------------------------------------------------------------------ main --

def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "u_s__non_farm_payrolls_an_olap_analysis_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, base: str, work: str) -> int:
    pst = posture(work)
    load0 = os.getloadavg()[0]
    data_dir = os.path.join(work, "data")
    tables = OLAP_TABLES if args.workload == "olap_dashboard" else ("orders",)
    gen.generate(data_dir, args.seed, SF, tables)
    sys.path.insert(0, ROOT)
    tr = Tracer() if args.trace else NoTracer()
    eng = Engine(pst, tr)
    try:
        floor = eng.noop_floor_ms()
        run = Run(args, work, eng)
        WORKLOADS[args.workload](run, data_dir)
        gc1 = eng.gc()
        floor += eng.noop_floor_ms()
    finally:
        eng.stop()
    host = host_record(run, pst, load0, floor, gc1)
    metrics = per_layer(run, host) if args.trace else end_to_end(run)
    if args.trace:
        tr.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
    for name, (value, unit, n) in {**metrics, **host}.items():
        print(f"{name:44s} {value:16.6f} {unit:6s} n={n}")
    print(f"{'setup phases':44s} " + " ".join(
        f"{k}={v:.3f}" for k, v in run.setup.items()))
    if run.warm_writes_ms:
        print(f"{'etl warm-up write ms':44s} " + " ".join(
            f"{v:.0f}" for v in run.warm_writes_ms))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
