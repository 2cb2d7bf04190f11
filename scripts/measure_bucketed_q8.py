"""Measure the at-rest answer to the q8 fact-fact join floor: bucket
orders and lineitem BY THE JOIN KEY once (the write-once pre-shuffle), then
run the q8-shaped join off the bucketed tables and compare against the
ad-hoc plan on flat parquet.

Usage: python scripts/measure_bucketed_q8.py [data_dir] [buckets]
(default: .bench_sf3x at its current replication, 32 buckets)

The point of record (SCALE.md / BASELINE.md): a recurring fact-fact join
at 100 TB is not run ad hoc — the layout amortizes the shuffle. This
script measures exactly that trade on this host's bench data.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.numerics import (  # noqa: E402
    _nearest_long_away,
)
from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.plan_cache import (  # noqa: E402
    clear_plan_memo,
)
from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table  # noqa: E402
from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.tpch_analytics import (  # noqa: E402
    _revenue,
    tpch_q8_market_share,
)
from u_s__non_farm_payrolls_an_olap_analysis_spark.session import get_spark  # noqa: E402

D = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_sf3x"
)
BUCKETS = int(sys.argv[2]) if len(sys.argv) > 2 else 32

spark = get_spark()
spark.conf.set("spark.sql.shuffle.partitions", "32")
spark.conf.set("spark.sql.adaptive.enabled", "true")
wh = spark.conf.get("spark.sql.warehouse.dir")
print(f"data={D} buckets={BUCKETS} warehouse={wh}")


import hashlib  # noqa: E402

from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.derived import (  # noqa: E402
    table_sig,
)

# the tag carries (data_dir, bucket count, SOURCE CONTENT signature):
# bench.py regenerates .bench_sf3x IN PLACE when SPARK_GRAFT_SFN_REP
# changes, so a path-only tag would silently reuse a stale bucketed
# layout against fresh flat data (round-9 ADVICE) — the (name, size,
# footer-hash) content signature of the source parquet forces a
# re-bucket on real changes while surviving clones/copies (round 10)
_TAG = hashlib.md5(
    repr((
        os.path.abspath(D),
        BUCKETS,
        table_sig(os.path.join(D, "orders.parquet")),
        table_sig(os.path.join(D, "lineitem.parquet")),
    )).encode()
).hexdigest()[:8]


def ensure_bucketed(name: str, df, key: str) -> None:
    name = f"{name}_{_TAG}"
    if not spark.catalog.tableExists(name):
        (df.write.bucketBy(BUCKETS, key).sortBy(key)
         .option("path", os.path.join(wh.removeprefix("file:"), name))
         .mode("overwrite").saveAsTable(name))


t0 = time.time()
ensure_bucketed("bq8_orders", read_table(spark, D, "orders"), "o_orderkey")
ensure_bucketed(
    "bq8_lineitem",
    read_table(spark, D, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    ),
    "l_orderkey",
)
print(f"layout_prep_sec={round(time.time() - t0, 1)} (once per layout)")


def q8_bucketed():
    li = spark.table(f"bq8_lineitem_{_TAG}")
    orders = spark.table(f"bq8_orders_{_TAG}")
    cust = read_table(spark, D, "customer")
    supp = read_table(spark, D, "supplier")
    n_c = read_table(spark, D, "nation").select(
        F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk")
    )
    region = read_table(spark, D, "region").filter(F.col("r_name") == "ASIA")
    n_s = read_table(spark, D, "nation").select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    supp_flag = supp.join(n_s, supp.s_nationkey == F.col("snk")).select(
        "s_suppkey", (F.col("supp_nation") == "NATION_1").alias("tgt")
    )
    asia = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_c), cust.c_nationkey == F.col("cnk"))
        .join(F.broadcast(region), F.col("crk") == region.r_regionkey)
        .select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    )
    lif = li.join(F.broadcast(supp_flag), li.l_suppkey == F.col("s_suppkey")).select(
        "l_orderkey", _nearest_long_away(_revenue() * 10_000).alias("r"), "tgt"
    )
    num = (
        F.sum(F.when(F.col("tgt"), F.col("r")).otherwise(F.lit(0).cast("long")))
        / 10_000.0
    )
    den = F.sum("r") / 10_000.0
    # hint("merge") pins the co-located SMJ: without it the planner may
    # still broadcast the reduced asia side, which proves nothing about
    # the layout (and at 100 TB neither fact side broadcasts)
    return (
        lif.hint("merge")
        .join(asia, lif.l_orderkey == asia.o_orderkey)
        .groupBy("o_year")
        .agg(
            F.round(num / den, 6).alias("mkt_share"),
            F.round(den, 4).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


def best_of(fn, n=3):
    fn().collect()
    best = 1e9
    for _ in range(n):
        clear_plan_memo()
        df = fn()
        t = time.time()
        df.collect()
        best = min(best, time.time() - t)
    return round(best, 3)


bucketed = q8_bucketed()
plan = bucketed._jdf.queryExecution().executedPlan().toString()
n_shuffle = plan.count("Exchange hashpartitioning") + plan.count(
    "Exchange rangepartitioning"
)
n_bcast = plan.count("BroadcastExchange")
print(f"bucketed_plan_shuffle_exchanges={n_shuffle} "
      f"broadcast_exchanges={n_bcast} "
      "(shuffles touch only the 7-row year aggregate/sort, "
      "never the fact-fact join)")
print(f"q8_bucketed_sec={best_of(q8_bucketed)}")
print(f"q8_flat_sec={best_of(lambda: tpch_q8_market_share(spark, D))}")
a = sorted(map(tuple, bucketed.collect()))
b = sorted(map(tuple, tpch_q8_market_share(spark, D).collect()))
print(f"results_identical={a == b}")
