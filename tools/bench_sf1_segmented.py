#!/usr/bin/env python
"""Segmented FULL-surface sf1 record (r15, VERDICT r14 #5).

The full declared-query surface at sf1 exceeds a one-hour window in a
single session (r13: killed at 3600 s), so the 10x record is produced
as N canary-gated SEGMENTS, each in its OWN process/session (fresh
JVM, fresh box-health gate, fresh scheduling floor, same-session
DuckDB pair), then stitched into one committed BENCH_DETAIL_sf1.json
covering every query — replacing the r14 bounded subset.

Per segment the protocol is the bounded tool's, unchanged: mf16 layout
built FROM the sf1 fixture by bench.py's own builder, best-of-3 wall,
Spark job counts via job groups, per-segment scheduling floor (the
fa_all_jobs column subtracts jobs x floor), box-health gate before and
END canary after (a degraded window aborts, never commits).  Segment 0
also re-runs the array workload (sf-independent) so the stitched
record is wholly same-round.

Usage:
  python tools/bench_sf1_segmented.py seg I N [sf1_dir]   # segment I of N
  python tools/bench_sf1_segmented.py stitch N [out]      # merge
  python tools/bench_sf1_segmented.py fixup N q1,q2,... [sf1_dir]
Defaults: sf1_dir=/root/repo/.derived/sf1, out=BENCH_DETAIL_sf1.json

``fixup`` re-measures ONLY the named queries' Spark side in one fresh
canary-gated session (correct rebuild-per-pass timing) and patches the
segment files in place, keeping each entry's committed duckdb_sec (the
oracle side is unaffected by a Spark timing bug — q82/q83's recursive-
CTE oracle alone costs ~80 min at sf1 and must not be thrown away).
The replaced spark_sec is preserved as ``spark_sec_prefix`` beside the
fixup-session floor, so the record keeps the old numbers per the bench
contract.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEG_PREFIX = "BENCH_DETAIL_sf1_seg"

# Queries whose CONSTRUCTION already executes Spark jobs (iterative
# CC, IVF training, array-store catalog reads) — timed end-to-end per
# pass, same set as bench.py's rebuild_per_pass.
REBUILD_PER_PASS = {
    "q82_neardup_clusters",
    "q83_dedup_cluster_keep",
    "q66_ann_ivf_top1",
    "q34_array_slice",
    "q35_array_timetravel",
    "q81_array_version_diff",
}


def _segment_names(i: int, n: int) -> list[str]:
    from mandoline_spark.queries import QUERIES

    names = sorted(QUERIES)
    per = (len(names) + n - 1) // n
    return names[i * per : (i + 1) * per]


def run_segment(i: int, n: int, sf1_dir: str) -> None:
    from bench import (
        _gen_share_once,
        bench_array,
        box_health_gate,
        make_mf_fixture,
        perf_pieces,
    )
    from mandoline_spark.queries import ORACLES, QUERIES, TABLES
    from mandoline_spark.sources.session import get_spark

    names = _segment_names(i, n)
    spark = get_spark(f"bench_sf1_seg{i}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    sc = spark.sparkContext

    os.environ["SPARK_GRAFT_RECORD_DETAIL"] = "1"
    health = box_health_gate(spark)

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    mf_dir = make_mf_fixture(sf1_dir)
    os.environ["MANDOLINE_TEST_SF"] = mf_dir

    out: dict = {
        "metric": "sf1_segment",
        "segment": i,
        "n_segments": n,
        "sf_dir": sf1_dir,
        "box_health": health,
        "queries": {},
    }

    # the array workload rides segment 0 (synthetic, sf-independent),
    # before the query loop, exactly like bench.py's phase ordering
    if i == 0:
        arr = bench_array(spark)
        out["array"] = {
            k: v
            for k, v in arr.items()
            if not (k.endswith("_runs") or k.endswith("_spread"))
        }

    # build (and for the memoizing streaming entries: ingest) outside
    # the timers — build_sec reported, mirroring bench.py
    t0 = time.perf_counter()
    built = {
        name: QUERIES[name](spark, mf_dir)
        for name in names
        if name not in REBUILD_PER_PASS
    }
    out["build_sec"] = round(time.perf_counter() - t0, 4)

    # warmup pass (codegen, parquet footers, streaming-sink scans)
    for name in names:
        run(
            QUERIES[name](spark, mf_dir)
            if name in REBUILD_PER_PASS
            else built[name]
        )

    from pyspark.sql import functions as F

    floors = []
    for _ in range(5):
        t0 = time.perf_counter()
        run(spark.range(8).groupBy((F.col("id") % 2).alias("k")).count())
        floors.append(time.perf_counter() - t0)
    floor = sorted(floors)[2]
    out["sched_floor_sec"] = round(floor, 4)

    tracker = sc.statusTracker()
    for name in names:
        best, jobs = None, None
        for j in range(3):
            gid = f"sf1seg_{name}_{j}"
            sc.setJobGroup(gid, name)
            # REBUILD_PER_PASS construction runs Spark jobs (iterative
            # CC rounds, IVF training, catalog reads) — it must sit
            # INSIDE the timer and the job group, exactly as bench.py
            # times it.  The first stitched record had it outside
            # (q82-at-sf1 read 0.11 s because the whole CC iteration
            # ran untimed); fixed r15, remeasured via `fixup`.
            t0 = time.perf_counter()
            run(
                QUERIES[name](spark, mf_dir)
                if name in REBUILD_PER_PASS
                else built[name]
            )
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

    # same-session DuckDB pair on the same mf16 files
    try:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads={os.cpu_count()}")
        for t in TABLES:
            p = f"{mf_dir}/{t}.parquet"
            if os.path.isdir(p):
                p = f"{p}/*.parquet"
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
        con.execute("SELECT count(*) FROM lineitem").fetchall()
        for name in names:
            sql = ORACLES.get(name)
            if sql is None:
                continue
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
            rec["ratio_fa"] = round(
                max(0.0, rec["fa_all_jobs"]) / best, 2
            ) if best > 0 else None
        con.close()
    except Exception as exc:  # pragma: no cover - environment-dependent
        out["duckdb_error"] = repr(exc)

    pieces = perf_pieces(spark)
    out["end_canary_sec"] = round(
        min(_gen_share_once(spark, pieces) for _ in range(2)), 4
    )
    out["end_canary_healthy"] = (
        out["end_canary_sec"] <= health["threshold_sec"]
    )

    path = f"{SEG_PREFIX}{i}.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(
        json.dumps(
            {
                "segment": i,
                "n_queries": len(names),
                "floor": out["sched_floor_sec"],
                "end_canary_healthy": out["end_canary_healthy"],
            }
        )
    )
    print(f"wrote {path}")


def stitch(n: int, out_path: str) -> None:
    merged: dict = {
        "metric": "segmented_sf1_record",
        "n_segments": n,
        "segments": [],
        "queries": {},
    }
    total = duck_total = 0.0
    for i in range(n):
        seg = json.load(open(f"{SEG_PREFIX}{i}.json"))
        merged["segments"].append(
            {
                "segment": i,
                "sched_floor_sec": seg["sched_floor_sec"],
                "box_health": seg["box_health"],
                "build_sec": seg.get("build_sec"),
                "end_canary_sec": seg["end_canary_sec"],
                "end_canary_healthy": seg["end_canary_healthy"],
            }
        )
        if seg.get("array"):
            merged["array"] = seg["array"]
        if "sf_dir" in seg:
            merged["sf_dir"] = seg["sf_dir"]
        for name, rec in seg["queries"].items():
            rec = dict(rec, segment=i)
            merged["queries"][name] = rec
            total += rec["spark_sec"]
            duck_total += rec.get("duckdb_sec") or 0.0
    merged["surface_total_sec"] = round(total, 4)
    merged["duckdb_total_sec"] = round(duck_total, 4)
    if duck_total:
        merged["ratio_raw"] = round(total / duck_total, 2)
        fa = sum(
            max(0.0, r["fa_all_jobs"]) for r in merged["queries"].values()
        )
        merged["ratio_fa_all_jobs"] = round(fa / duck_total, 2)
    unhealthy = [
        s["segment"]
        for s in merged["segments"]
        if not s["end_canary_healthy"]
    ]
    merged["all_segments_healthy"] = not unhealthy
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1)
    print(
        json.dumps(
            {
                "metric": merged["metric"],
                "n_queries": len(merged["queries"]),
                "surface_total_sec": merged["surface_total_sec"],
                "ratio_raw": merged.get("ratio_raw"),
                "ratio_fa_all_jobs": merged.get("ratio_fa_all_jobs"),
                "unhealthy_segments": unhealthy,
            }
        )
    )
    print(f"wrote {out_path}")


def run_fixup(n: int, fix_names: list[str], sf1_dir: str) -> None:
    """Re-measure the named queries' Spark side (correct timing) in one
    fresh gated session and patch the segment files in place."""
    from bench import (
        _gen_share_once,
        box_health_gate,
        make_mf_fixture,
        perf_pieces,
    )
    from mandoline_spark.queries import QUERIES
    from mandoline_spark.sources.session import get_spark
    from pyspark.sql import functions as F

    seg_of = {}
    for i in range(n):
        for name in _segment_names(i, n):
            seg_of[name] = i
    missing = [q for q in fix_names if q not in seg_of]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    spark = get_spark("bench_sf1_fixup")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    sc = spark.sparkContext

    os.environ["SPARK_GRAFT_RECORD_DETAIL"] = "1"
    health = box_health_gate(spark)

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    mf_dir = make_mf_fixture(sf1_dir)
    os.environ["MANDOLINE_TEST_SF"] = mf_dir

    # warmup (codegen, footers, memoized fixtures/ingest)
    built = {
        name: QUERIES[name](spark, mf_dir)
        for name in fix_names
        if name not in REBUILD_PER_PASS
    }
    for name in fix_names:
        run(
            QUERIES[name](spark, mf_dir)
            if name in REBUILD_PER_PASS
            else built[name]
        )

    floors = []
    for _ in range(5):
        t0 = time.perf_counter()
        run(spark.range(8).groupBy((F.col("id") % 2).alias("k")).count())
        floors.append(time.perf_counter() - t0)
    floor = sorted(floors)[2]

    tracker = sc.statusTracker()
    fixed: dict[str, dict] = {}
    for name in fix_names:
        best, jobs = None, None
        for j in range(3):
            gid = f"sf1fix_{name}_{j}"
            sc.setJobGroup(gid, name)
            t0 = time.perf_counter()
            run(
                QUERIES[name](spark, mf_dir)
                if name in REBUILD_PER_PASS
                else built[name]
            )
            dt = time.perf_counter() - t0
            jobs = len(tracker.getJobIdsForGroup(gid))
            sc.setJobGroup("", "")
            if best is None or dt < best:
                best = dt
        fixed[name] = {
            "spark_sec": round(best, 4),
            "jobs": jobs,
            "fa_all_jobs": round(best - jobs * floor, 4),
        }

    pieces = perf_pieces(spark)
    end_canary = round(
        min(_gen_share_once(spark, pieces) for _ in range(2)), 4
    )
    if end_canary > health["threshold_sec"]:
        raise SystemExit(
            f"end canary degraded ({end_canary} s) - fixup not committed"
        )

    for name, rec in fixed.items():
        path = f"{SEG_PREFIX}{seg_of[name]}.json"
        seg = json.load(open(path))
        old = seg["queries"][name]
        new = dict(old)
        new["spark_sec_prefix"] = old["spark_sec"]
        new.update(rec)
        new["fixup_floor_sec"] = round(floor, 4)
        if old.get("duckdb_sec"):
            new["ratio_raw"] = round(
                new["spark_sec"] / old["duckdb_sec"], 2
            )
            new["ratio_fa"] = round(
                max(0.0, new["fa_all_jobs"]) / old["duckdb_sec"], 2
            )
        seg["queries"][name] = new
        with open(path, "w") as f:
            json.dump(seg, f, indent=1)
        print(json.dumps({"fixed": name, **rec, "segment": seg_of[name]}))
    print(
        json.dumps(
            {
                "metric": "sf1_fixup",
                "floor": round(floor, 4),
                "end_canary_sec": end_canary,
            }
        )
    )


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "seg"
    if mode == "seg":
        i, n = int(sys.argv[2]), int(sys.argv[3])
        sf1_dir = (
            sys.argv[4]
            if len(sys.argv) > 4
            else "/root/repo/.derived/sf1"
        )
        if not os.path.isdir(sf1_dir):
            raise SystemExit(f"{sf1_dir} missing - run tools/make_sf1.py")
        run_segment(i, n, sf1_dir)
    elif mode == "stitch":
        n = int(sys.argv[2])
        out_path = (
            sys.argv[3] if len(sys.argv) > 3 else "BENCH_DETAIL_sf1.json"
        )
        stitch(n, out_path)
    elif mode == "fixup":
        n = int(sys.argv[2])
        fix_names = [q for q in sys.argv[3].split(",") if q]
        sf1_dir = (
            sys.argv[4]
            if len(sys.argv) > 4
            else "/root/repo/.derived/sf1"
        )
        run_fixup(n, fix_names, sf1_dir)
    else:
        raise SystemExit("mode must be 'seg', 'stitch' or 'fixup'")


if __name__ == "__main__":
    main()
