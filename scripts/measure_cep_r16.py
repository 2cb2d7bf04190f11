"""Round-16 decomposition of the flat events_pattern_match / sessionize
30x cost (VERDICT r15 items 1+3): time the full operators and ablated
variants at the sfn posture so the fix targets the measured term, not a
guess.

Variants:
  cep_full          — events_pattern_match as declared
  cep_no_orderby    — same stack, final global orderBy removed (lower
                      bound: what the query costs without the range sort)
  cep_lazy_ckpt     — matches lazily localCheckpoint-ed before orderBy
                      (kills the range-partitioner sampling pass's
                      re-execution of the whole window stack)
  sess_full         — sessionize_batch as declared
  sess_exchange     — repartition(user_id) + noop (exchange-only floor)
  sess_exch_sort    — + sortWithinPartitions (exchange + sort floor)

Protocol: rule 6b — fresh DataFrame per run, first action timed,
median of 5; no other Spark session may run concurrently.
"""
from __future__ import annotations

import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

RUNS = 5


def main() -> None:
    from u_s__non_farm_payrolls_an_olap_analysis_spark.session import get_spark
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import (
        cache_tables,
        read_table,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.plan_cache import (
        clear_plan_memo,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.analytics_events import (
        _pattern_match_events,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.custom_udf import (
        _sessionize_events,
    )

    out_dir = os.path.join(REPO, ".bench_sf3x")
    spark = get_spark(app_name="cep_r16", shuffle_partitions=16,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    cache_tables(spark, out_dir, tables=("events",), max_partitions=32)

    def ev5():
        return read_table(spark, out_dir, "events").select(
            "user_id", "ts", "event_id", "event_type", "value"
        )

    def ev2():
        return read_table(spark, out_dir, "events").select("user_id", "ts")

    def cep_full():
        return _pattern_match_events(ev5())

    variants: dict[str, object] = {}

    variants["cep_full"] = (cep_full, "toPandas")

    # pyspark exposes no logical-plan surgery to peel the helper's final
    # Sort, so the no-orderBy ablation rebuilds the stack inline (a copy
    # kept local to the measurement script)
    from pyspark.sql.window import Window

    def _cep_stack_no_orderby():
        ev = ev5().select(
            "user_id", "ts", "event_id",
            F.when(F.col("event_type") == "click", F.lit(0))
            .when(F.col("event_type") == "view", F.lit(1))
            .when(F.col("event_type") == "purchase", F.lit(2))
            .otherwise(F.lit(3)).cast("tinyint").alias("etype"),
            "value",
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seqd = ev.select(
            "user_id", "ts", "event_id", "etype", "value",
            F.row_number().over(w).alias("seq"),
        )
        wf = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        nc_struct = F.last(
            F.when(
                F.col("etype") != 0,
                F.struct(F.col("seq").alias("seq"),
                         F.col("etype").alias("etype"),
                         F.col("ts").alias("ts")),
            ),
            ignorenulls=True,
        ).over(wf)
        anchored = seqd.select(
            "user_id", "ts", "event_id", "etype", "value", "seq",
            nc_struct.alias("nc"),
        ).select(
            "user_id", "ts", "event_id", "etype", "value", "seq",
            F.col("nc.seq").alias("nc_seq"),
            F.col("nc.etype").alias("nc_type"),
            F.col("nc.ts").alias("nc_ts"),
        )
        return (
            anchored.filter((F.col("etype") == 2) & (F.col("nc_type") == 1))
            .select(
                "user_id",
                F.col("nc_ts").alias("view_ts"),
                F.col("ts").alias("purchase_ts"),
                F.col("event_id").alias("purchase_event_id"),
                (F.col("seq") - F.col("nc_seq") - 1).cast("int").alias("n_clicks"),
                F.col("value").alias("purchase_value"),
            )
        )

    variants["cep_no_orderby"] = (_cep_stack_no_orderby, "toPandas")

    def _cep_lazy_ckpt():
        m = _cep_stack_no_orderby().localCheckpoint(eager=False)
        return m.orderBy("user_id", "purchase_ts", "purchase_event_id")

    variants["cep_lazy_ckpt"] = (_cep_lazy_ckpt, "toPandas")

    variants["sess_full"] = (lambda: _sessionize_events(ev2()), "toPandas")

    def _sess_exchange():
        return ev2().repartition(16, "user_id")

    variants["sess_exchange"] = (_sess_exchange, "noop")

    def _sess_exch_sort():
        return (
            ev2().repartition(16, "user_id")
            .sortWithinPartitions("user_id", "ts")
        )

    variants["sess_exch_sort"] = (_sess_exch_sort, "noop")

    def _cep_exch_sort():
        return (
            ev5().repartition(16, "user_id")
            .sortWithinPartitions("user_id", "ts", "event_id")
        )

    variants["cep_exch_sort"] = (_cep_exch_sort, "noop")

    results = {}
    for name, (build, fetch) in variants.items():
        spark.sparkContext.setJobDescription(f"r16 decomp: {name}")
        def run_once():
            clear_plan_memo()
            df = build()
            t0 = time.time()
            if fetch == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.toPandas()
            return time.time() - t0
        run_once()  # warm
        times = [run_once() for _ in range(RUNS)]
        results[name] = (round(statistics.median(times), 4),
                         round(min(times), 4), round(max(times), 4))
        print(f"{name:>18}: median={results[name][0]}  "
              f"min={results[name][1]} max={results[name][2]}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
