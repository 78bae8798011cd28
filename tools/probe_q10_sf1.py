#!/usr/bin/env python
"""Decompose the q10-at-sf1 anomaly (r15).

The segmented sf1 record read q10_agg_hash at 11.39 s (seg0) where the
r14 bounded record read 0.896 s on the SAME fixture, config and code —
and every OTHER overlapping seg0 query matched r14 within noise.  The
one difference between the two sessions: seg0 warmed the whole 28-query
segment, including the four streaming replays (q106-q109) whose
available-now runs sink to a DRIVER-MEMORY table that stays referenced
for the session (the memo).  Hypothesis: at sf1 those memory-sink
tables (plus streaming state) occupy enough old-gen heap that the two
allocation-heavy kernels on the surface — q10's BigDecimal revenue
accumulation and the array workload's Arrow assembly — degrade into GC
thrash, while low-allocation codegen scans are untouched.

This probe runs each phase in its own SUBPROCESS (fresh JVM):
  A: mf16(sf1) -> warm q10 -> time q10 best-of-5.        (clean session)
  B: same, but run the q106-q109 replay builds first.    (seg0's history)
Both phases record JVM GC time around the timed region (management
beans), so the verdict is measured, not inferred.

Usage: python tools/probe_q10_sf1.py [sf1_dir]
Writes PROBE_Q10_SF1_r15.json (phase results merged by the parent).
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "PROBE_Q10_SF1_r15.json")


def gc_stats(spark) -> dict:
    """Total GC count/time (ms) across all JVM collectors."""
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    n = t = 0
    for i in range(beans.size()):
        b = beans.get(i)
        n += b.getCollectionCount()
        t += b.getCollectionTime()
    return {"gc_count": n, "gc_time_ms": t}


def heap_used(spark) -> int:
    mem = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getMemoryMXBean()
    )
    return mem.getHeapMemoryUsage().getUsed()


STREAM_QS = (
    "q106_streaming_sessions",
    "q107_streaming_sessions_multibatch",
    "q108_streaming_dedup_gate",
    "q109_streaming_interval_join",
)


def _self_jstack(delay_s: float, out_path: str) -> None:
    """Dump this process's child JVM's threads after ``delay_s``."""
    import threading

    def dump() -> None:
        time.sleep(delay_s)
        try:
            pids = subprocess.run(
                ["pgrep", "-P", str(os.getpid()), "java"],
                capture_output=True,
                text=True,
            ).stdout.split()
            if pids:
                d = subprocess.run(
                    ["jcmd", pids[0], "Thread.print"],
                    capture_output=True,
                    text=True,
                )
                with open(out_path, "w") as f:
                    f.write(d.stdout)
        except Exception:
            pass

    threading.Thread(target=dump, daemon=True).start()


def run_phase(phase: str, sf1_dir: str) -> None:
    from bench import make_mf_fixture
    from mandoline_spark.queries import QUERIES
    from mandoline_spark.sources.session import get_spark

    spark = get_spark(f"probe_q10_{phase}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")

    mf_dir = make_mf_fixture(sf1_dir)

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    res: dict = {"phase": phase}
    if phase == "D":
        # seg0 runs the array workload FIRST (before the query loop)
        from bench import bench_array

        spark.conf.set("spark.sql.adaptive.enabled", "true")
        t0 = time.perf_counter()
        arr = bench_array(spark)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        res["array_sec"] = round(time.perf_counter() - t0, 3)
        res["arr_ingest"] = arr.get("arr_ingest_412mb")
        res["heap_used_after_array_mb"] = heap_used(spark) // 2**20
    if phase in ("B", "C", "D"):
        t0 = time.perf_counter()
        streams = {n: QUERIES[n](spark, mf_dir) for n in STREAM_QS}
        for df in streams.values():
            run(df)
        res["streaming_build_sec"] = round(time.perf_counter() - t0, 3)
        res["heap_used_after_streams_mb"] = heap_used(spark) // 2**20

    if phase in ("C", "D"):
        # seg0's exact timed sequence: 3 timed scans of each streaming
        # sink table immediately before q10's timed passes
        scans = {}
        for n in STREAM_QS:
            best = None
            for _ in range(3):
                t0 = time.perf_counter()
                run(streams[n])
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            scans[n] = round(best, 3)
        res["stream_scan_best"] = scans

    df = QUERIES["q10_agg_hash"](spark, mf_dir)
    run(df)  # warmup
    g0, h0 = gc_stats(spark), heap_used(spark)
    if phase in ("C", "D"):
        _self_jstack(3.0, os.path.join(REPO, "PROBE_Q10_STALL_JSTACK.txt"))
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        run(df)
        runs.append(round(time.perf_counter() - t0, 4))
    g1 = gc_stats(spark)
    res.update(
        q10_runs=runs,
        q10_best=min(runs),
        heap_used_before_mb=h0 // 2**20,
        gc_count_delta=g1["gc_count"] - g0["gc_count"],
        gc_time_delta_ms=g1["gc_time_ms"] - g0["gc_time_ms"],
    )
    print(json.dumps(res))


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "_phase":
        run_phase(sys.argv[2], sys.argv[3])
        return
    sf1_dir = (
        sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.derived/sf1"
    )
    merged: dict = {"metric": "probe_q10_sf1", "sf1_dir": sf1_dir}
    for phase in ("A", "B"):
        p = subprocess.run(
            [sys.executable, __file__, "_phase", phase, sf1_dir],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        lines = [
            ln
            for ln in p.stdout.strip().splitlines()
            if ln.startswith("{")
        ]
        merged[phase] = (
            json.loads(lines[-1])
            if lines
            else {"error": p.stderr[-2000:]}
        )
        print(json.dumps(merged[phase]))
    with open(OUT, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
