"""Local mirror of the driver's t2 oracle-correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column names,
and an order-insensitive value comparison (floats rounded to 9 sig places
before compare; dates/timestamps canonicalized to ISO strings).

Usage: python scripts/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if hasattr(v, "tolist") and not hasattr(v, "isoformat"):
        # numpy arrays / scalars from array-typed columns
        t = v.tolist()
        return (
            "[" + ",".join(canon_cell(x) for x in t) + "]"
            if isinstance(t, list)
            else canon_cell(t)
        )
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_frame(pdf):
    cols = sorted(pdf.columns)
    rows = []
    for t in pdf[cols].itertuples(index=False, name=None):
        rows.append("\x1f".join(canon_cell(v) for v in t))
    rows.sort()
    return cols, rows


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # before the session starts: Python workers inherit the environment,
    # and they must import the package from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )

    if os.environ.get("PARITY_PLAIN_SESSION"):
        # simulate the driver: default builder, none of our session confs
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[32]").appName(
            "parity-plain"
        ).getOrCreate()
    else:
        from u_s__non_farm_payrolls_an_olap_analysis_spark.session import (
            get_spark,
        )

        spark = get_spark(app_name="parity-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(spark_pdf)} rows  [{dt:.1f}s]")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        sc, sr = canon_frame(spark_pdf)
        dc, dr = canon_frame(duck_pdf)
        if sc != dc:
            failures.append(name)
            print(f"FAIL  {name}: columns {sc} != {dc}")
        elif len(sr) != len(dr):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(sr)} != {len(dr)}")
        elif sr != dr:
            failures.append(name)
            bad = next(
                (i, a, b) for i, (a, b) in enumerate(zip(sr, dr)) if a != b
            )
            print(f"FAIL  {name}: values differ at sorted-row {bad[0]}:")
            print(f"      spark: {bad[1][:300]}")
            print(f"      duck : {bad[2][:300]}")
        else:
            print(f"ok    {name}: {len(sr)} rows  [{dt:.1f}s]")
    print(f"\n{len(failures)} failures of {len(qs) if not only else len(only)}")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
