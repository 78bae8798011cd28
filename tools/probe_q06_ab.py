#!/usr/bin/env python
"""A/B the q06_join_left eager-aggregation rewrite (VERDICT r14 #1).

count(o_orderkey) distributes over o_custkey, so orders can
pre-aggregate BELOW the left join (the q91 eager-agg trick): the join
then carries one row per customer-with-orders instead of one row per
order, and the post-join re-aggregation disappears into a coalesce.
This probe measures both plans (best-of-5, job counts) against the
same-session DuckDB oracle on the canonical mf16 layout, at the given
sf dir — the evidence the rewrite ships (or doesn't) on.

Usage: python tools/probe_q06_ab.py [sf_dir]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from bench import make_mf_fixture
    from mandoline_spark.queries import (
        ORACLES,
        QUERIES,
        load,
        osort,
        table_rows,
    )
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("q06_ab_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    sc = spark.sparkContext

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    def q06_eager(spark, sf):
        c = load(spark, sf, "customer")
        o = load(spark, sf, "orders")
        per_cust = o.groupBy("o_custkey").agg(
            F.count("o_orderkey").alias("_n")
        )
        return (
            c.join(per_cust, per_cust.o_custkey == c.c_custkey, "left")
            .select(
                "c_custkey",
                F.coalesce("_n", F.lit(0)).alias("n_orders"),
            )
            .transform(osort, table_rows(sf, "customer"), "c_custkey")
        )

    variants = {
        "current": lambda d: QUERIES["q06_join_left"](spark, d),
        "eager_agg": lambda d: q06_eager(spark, d),
    }

    mf_dir = make_mf_fixture(sf_dir)
    for fn in variants.values():  # warmup
        run(fn(mf_dir))

    floors = []
    for _ in range(5):
        t0 = time.perf_counter()
        run(spark.range(8).groupBy((F.col("id") % 2).alias("k")).count())
        floors.append(time.perf_counter() - t0)
    floor = sorted(floors)[2]

    out: dict = {"sf_dir": sf_dir, "sched_floor_sec": round(floor, 4)}
    tracker = sc.statusTracker()
    for label, fn in variants.items():
        df = fn(mf_dir)
        best, jobs = None, None
        for i in range(5):
            gid = f"q06ab_{label}_{i}"
            sc.setJobGroup(gid, label)
            t0 = time.perf_counter()
            run(df)
            dt = time.perf_counter() - t0
            jobs = len(tracker.getJobIdsForGroup(gid))
            sc.setJobGroup("", "")
            if best is None or dt < best:
                best = dt
        out[label] = {
            "best_sec": round(best, 4),
            "jobs": jobs,
            "fa_all_jobs": round(best - jobs * floor, 4),
        }

    # equivalence check: both variants row-for-row identical
    a = variants["current"](mf_dir).toPandas()
    b = variants["eager_agg"](mf_dir).toPandas()
    out["variants_identical"] = a.equals(b)

    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count()}")
    for t in ("customer", "orders"):
        p = f"{mf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
        )
    sql = ORACLES["q06_join_left"]
    best = None
    for _ in range(5):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        dt = time.perf_counter() - t0
        if best is None or dt < best:
            best = dt
    out["duckdb_sec"] = round(best, 4)
    for label in variants:
        out[label]["ratio_raw"] = round(out[label]["best_sec"] / best, 2)
        out[label]["ratio_fa"] = round(
            max(0.0, out[label]["fa_all_jobs"]) / best, 2
        )
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
