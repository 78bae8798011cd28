#!/usr/bin/env python
"""Bounded sf1 bench record (r13 verdict #6).

The full 107-query sf1 surface exceeds a one-hour window (r13: killed
at 3600 s in its only attempt), so the committed 10x scaling record is
BOUNDED: the r13-flagged floor-adjusted weak set, the headline join
shapes, and the array workload — under the same box-health canary gate
as a headline record (degraded window => abort, never commit).

Per query: best-of-3 wall on the canonical mf16 layout built FROM the
sf1 fixture (same builder as bench.py, so the layouts never drift),
Spark job count via job-group tracking, and the same-session DuckDB
time on the same files — the decomposition the fa-tail protocol uses.

Usage: python tools/bench_sf1_bounded.py [sf1_dir] [out_json]
Defaults: /root/repo/.derived/sf1  BENCH_DETAIL_sf1.json
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the r13 verdict's unprobed fa>2x tail + the headline join/agg shapes
WEAK_SET = [
    "q13_cube",
    "q14_window_rank",
    "q15_window_lag",
    "q25_window_tumbling",
    "q26_window_sliding",
    "q27_session_window",
    "q100_embedding_quantize",
    "q104_shipping_priority",
]
HEADLINE_JOINS = [
    "q04_join_inner",
    "q05_join_broadcast",
    "q10_agg_hash",
    "q91_star_join",
]


def main() -> None:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.derived/sf1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH_DETAIL_sf1.json"
    if not os.path.isdir(sf1_dir):
        raise SystemExit(
            f"{sf1_dir} missing - run tools/make_sf1.py first"
        )

    from bench import (
        _gen_share_once,
        bench_array,
        box_health_gate,
        make_mf_fixture,
        perf_pieces,
    )
    from mandoline_spark.queries import ORACLES, QUERIES, TABLES
    from mandoline_spark.sources.session import get_spark

    names = WEAK_SET + HEADLINE_JOINS
    spark = get_spark("bench_sf1_bounded")
    spark.sparkContext.setLogLevel("ERROR")
    # same sizing the sf1 fa-tail probe used, scaled for 10x data: the
    # fact shuffles carry ~6M rows here, so the bench's 8-partition
    # override would under-parallelize — 32 matches local[32]
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    sc = spark.sparkContext

    # the gate aborts (exit 3) on a persistently degraded box when
    # SPARK_GRAFT_RECORD_DETAIL=1 — set it: this IS a record run
    os.environ["SPARK_GRAFT_RECORD_DETAIL"] = "1"
    health = box_health_gate(spark)

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    mf_dir = make_mf_fixture(sf1_dir)

    # scheduling floor (same kernel as bench.py/probe_fa_tail) — the
    # per-JOB constant the fa decomposition subtracts
    from pyspark.sql import functions as F

    floors = []
    for _ in range(5):
        t0 = time.perf_counter()
        run(spark.range(8).groupBy((F.col("id") % 2).alias("k")).count())
        floors.append(time.perf_counter() - t0)
    floor = sorted(floors)[2]

    out: dict = {
        "metric": "bounded_sf1_record",
        "sf_dir": sf1_dir,
        "sched_floor_sec": round(floor, 4),
        "box_health": health,
        "queries": {},
    }

    # warmup (codegen, parquet footers) — q34/q35/q81-style rebuild
    # queries are not in this set; every entry is pure-declarative
    for name in names:
        run(QUERIES[name](spark, mf_dir))

    tracker = sc.statusTracker()
    for name in names:
        df = QUERIES[name](spark, mf_dir)
        best, jobs = None, None
        for i in range(3):
            gid = f"sf1_{name}_{i}"
            sc.setJobGroup(gid, name)
            t0 = time.perf_counter()
            run(df)
            dt = time.perf_counter() - t0
            jobs = len(tracker.getJobIdsForGroup(gid))
            sc.setJobGroup("", "")
            if best is None or dt < best:
                best = dt
        out["queries"][name] = {
            "spark_sec": round(best, 4),
            "jobs": jobs,
            "fa_all_jobs": round(best - jobs * floor, 4),
        }

    # same-session DuckDB on the same mf16 files
    try:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads={os.cpu_count()}")
        os.environ["MANDOLINE_TEST_SF"] = mf_dir
        for t in TABLES:
            p = f"{mf_dir}/{t}.parquet"
            if os.path.isdir(p):
                p = f"{p}/*.parquet"
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
        con.execute("SELECT count(*) FROM lineitem").fetchall()
        for name in names:
            sql = ORACLES[name]
            sql = sql() if callable(sql) else sql
            best = None
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                dt = time.perf_counter() - t0
                if best is None or dt < best:
                    best = dt
            rec = out["queries"][name]
            rec["duckdb_sec"] = round(best, 4)
            rec["ratio_raw"] = round(rec["spark_sec"] / best, 2)
    except Exception as exc:  # pragma: no cover - environment-dependent
        out["duckdb_error"] = repr(exc)

    # the array workload (the reference's own 412 MiB perf shape) —
    # sf-independent synthetic data, rides every scaling record
    out["array"] = bench_array(spark)

    # END canary: a record whose exit window is degraded is ambiguous
    pieces = perf_pieces(spark)
    out["end_canary_sec"] = round(
        min(_gen_share_once(spark, pieces) for _ in range(2)), 4
    )
    out["end_canary_healthy"] = (
        out["end_canary_sec"] <= health["threshold_sec"]
    )

    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in ("metric", "box_health")}))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
