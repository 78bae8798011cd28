#!/usr/bin/env python
"""Decomposition probe for the >2x floor-adjusted tail (r11 verdict
#5: q68, q90, q69, q50 — all 0.2-0.3 s absolute, all single-pass
shapes).  For each query: best-of-5 wall time on BOTH the single-file
fixture and the bench's canonical mf16 layout, the number of Spark
JOBS the action submits (job count x the ~75 ms local-mode scheduling
floor is the fixed constant the floor-adjusted total subtracts only
ONCE per query), and the same-session DuckDB time — so each query's
gap decomposes into (job constants) + (plan cost) explicitly.

Usage: python tools/probe_fa_tail.py [sf_dir] [query_name ...]
(query names default to the r11 set that first got the treatment)
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES_UNDER_TEST = [
    "q68_stratified_sample",
    "q90_resample_ffill",
    "q69_minmax_by",
    "q50_percentiles",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    global QUERIES_UNDER_TEST
    if len(sys.argv) > 2:
        QUERIES_UNDER_TEST = sys.argv[2:]

    from mandoline_spark.queries import ORACLES, QUERIES
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("fa_tail_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    sc = spark.sparkContext

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    # mf16 fixture — the bench's OWN builder, so the probe and the
    # headline always measure the same layout
    import shutil

    from bench import make_mf_fixture

    mf_dir = make_mf_fixture(sf_dir)  # registers its own atexit cleanup
    # warmup: codegen + footers on both layouts
    for d in (sf_dir, mf_dir):
        for name in QUERIES_UNDER_TEST:
            run(QUERIES[name](spark, d))

    # scheduling floor (same kernel as bench.py)
    from pyspark.sql import functions as F

    floors = []
    for _ in range(5):
        t0 = time.perf_counter()
        run(spark.range(8).groupBy((F.col("id") % 2).alias("k")).count())
        floors.append(time.perf_counter() - t0)
    floor = sorted(floors)[2]

    out: dict = {"sf_dir": sf_dir, "sched_floor_sec": round(floor, 4)}
    for name in QUERIES_UNDER_TEST:
        rec: dict = {}
        for label, d in (("singlefile", sf_dir), ("mf16", mf_dir)):
            df = QUERIES[name](spark, d)
            best = None
            jobs = None
            tracker = sc.statusTracker()
            for i in range(5):
                sc.setJobGroup(f"probe_{name}_{label}_{i}", name)
                t0 = time.perf_counter()
                run(df)
                dt = time.perf_counter() - t0
                jobs = len(
                    tracker.getJobIdsForGroup(f"probe_{name}_{label}_{i}")
                )
                sc.setJobGroup("", "")
                if best is None or dt < best:
                    best = dt
            rec[label] = {
                "best_sec": round(best, 4),
                "jobs": jobs,
                "job_floor_sec": round(jobs * floor, 4),
                "fa_single_floor": round(best - floor, 4),
                "fa_all_jobs": round(best - jobs * floor, 4),
            }
        out[name] = rec

    # same-session DuckDB on both layouts
    import duckdb

    for label, d in (("singlefile", sf_dir), ("mf16", mf_dir)):
        con = duckdb.connect()
        con.execute(f"SET threads={os.cpu_count()}")
        os.environ["MANDOLINE_TEST_SF"] = d
        from mandoline_spark.queries import TABLES

        for t in TABLES:
            p = f"{d}/{t}.parquet"
            if os.path.isdir(p):
                p = f"{p}/*.parquet"
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
        con.execute("SELECT count(*) FROM lineitem").fetchall()
        for name in QUERIES_UNDER_TEST:
            sql = ORACLES[name]
            sql = sql() if callable(sql) else sql
            best = None
            for _ in range(5):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                dt = time.perf_counter() - t0
                if best is None or dt < best:
                    best = dt
            out[name][label]["duckdb_sec"] = round(best, 4)
            out[name][label]["ratio_raw"] = round(
                out[name][label]["best_sec"] / best, 2
            )
            out[name][label]["ratio_fa"] = round(
                max(0.0, out[name][label]["fa_single_floor"]) / best, 2
            )
        con.close()

    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
