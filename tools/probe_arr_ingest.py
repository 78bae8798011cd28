#!/usr/bin/env python
"""Decompose the arr_ingest_412mb band (VERDICT r15 #3: 3.35-5.52 s
across gated windows, +-65% -- the only entry on the surface with that
variance).  One session, UI enabled, N full ingest repetitions; each
repetition splits into:

  gen      -- the bench's own executor-side generator + Arrow transfer
              (sum(length(data)) over the pieces frame, the same
              isolation bench.py records as gen share)
  ingest   -- writer.ingest_aligned (persist+sha1+dedup+chunk append,
              index generation append, alignment/dup self-checks)
  finish   -- store.finish_version (reconcile guard + metadata commit)

plus, via the REST API, the per-Spark-JOB wall breakdown inside the
ingest (chunk-append write job, index-append write job, dup-check job,
broadcast builds), and the JVM GC time delta per phase from the
GarbageCollectorMXBeans -- so the band attributes to (generator | JVM
GC | write/commit I/O | scheduling) instead of being a mystery number.

Usage: python tools/probe_arr_ingest.py [n_reps]
Writes PROBE_ARR_INGEST_r16.json next to the repo root.
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _gc_totals(jvm):
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    t = c = 0
    it = beans.iterator()
    while it.hasNext():
        b = it.next()
        t += b.getCollectionTime()
        c += b.getCollectionCount()
    return t, c


def _jobs_since(app_id: str, port: int, min_job_id: int):
    url = f"http://localhost:{port}/api/v1/applications/{app_id}/jobs"
    with urllib.request.urlopen(url, timeout=10) as r:
        jobs = json.load(r)
    out = []
    for j in jobs:
        if j["jobId"] < min_job_id:
            continue
        sub = j.get("submissionTime")
        comp = j.get("completionTime")
        dur = None
        if sub and comp:
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            dur = (
                datetime.strptime(comp, fmt) - datetime.strptime(sub, fmt)
            ).total_seconds()
        out.append(
            {
                "jobId": j["jobId"],
                "name": j.get("name", "")[:90],
                "sec": round(dur, 3) if dur is not None else None,
            }
        )
    return sorted(out, key=lambda x: x["jobId"])


def main() -> None:
    n_reps = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    from mandoline_spark.sources.session import _default_driver_mem

    spark = (
        SparkSession.builder.appName("arr_ingest_probe")
        .master(f"local[{cpus}]")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.files.maxPartitionBytes", "512m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")  # probe-only: REST job timings
        .config("spark.ui.retainedJobs", "2000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jvm = spark.sparkContext._jvm
    port = int(sc.uiWebUrl.rsplit(":", 1)[1]) if sc.uiWebUrl else 4040
    app_id = sc.applicationId

    import pyspark.sql.functions as F

    from bench import perf_pieces
    from mandoline_spark import reader, writer
    from mandoline_spark.core import slab as _sb
    from mandoline_spark.core import slice as sl
    from mandoline_spark.store import Store

    X, Y, T, C = 400, 600, 900, 30
    root = tempfile.mkdtemp(prefix="mandoline_probe_arr")
    store = Store(spark, root)

    # same warmup as bench_array: throwaway 2-chunk dataset
    wconn = store.create_dataset("warmup")
    wtok = wconn.add_version(
        {
            "dimensions": {"x": 2 * C},
            "chunk-dimensions": {"x": C},
            "variables": {"v": {"type": "short", "shape": ["x"], "fill-value": 0}},
        }
    )
    # through ingest_aligned, the Spark path this probe breaks down: a
    # write_variable here would take the job-free driver write tier
    wrows = writer.slabs_to_piece_rows(
        wtok, "v", [_sb.empty("short", sl.mk_slice((0,), (2 * C,)), 1)]
    )
    writer.ingest_aligned(
        wconn, wtok, "v",
        spark.createDataFrame(wrows, schema=writer.piece_schema(1)),
    )
    wconn.finish_version(wtok)
    reader.get_slice(
        wconn, reader.on_last_version(wconn), "v", sl.mk_slice((0,), (2 * C,))
    )

    spec = {
        "dimensions": {"x": X, "y": Y, "t": T},
        "chunk-dimensions": {"x": C, "y": C, "t": C},
        "variables": {"v": {"type": "short", "shape": ["x", "y", "t"], "fill-value": -3}},
    }
    pieces = perf_pieces(spark)

    def tracker_next_job() -> int:
        ids = sc.statusTracker().getJobIdsForGroup(None) or []
        return (max(ids) + 1) if ids else 0

    reps = []
    conn = None
    for i in range(n_reps):
        if conn is not None:
            store.destroy_dataset(conn.name)
        conn = store.create_dataset(f"perf{i}")
        tok = conn.add_version(spec)
        jvm.System.gc()
        rec: dict = {}

        # phase: generator + Arrow share (same isolation as bench.py)
        g0t, g0c = _gc_totals(jvm)
        t0 = time.perf_counter()
        assert (
            pieces.select(F.length("data").alias("n")).agg(F.sum("n")).collect()[0][0]
            == 8400 * 54000
        )
        rec["gen_sec"] = round(time.perf_counter() - t0, 4)
        g1t, g1c = _gc_totals(jvm)
        rec["gen_gc_ms"] = g1t - g0t

        # phase: the real ingest, with per-job REST attribution
        jvm.System.gc()
        g0t, g0c = _gc_totals(jvm)
        first_job = tracker_next_job()
        t0 = time.perf_counter()
        writer.ingest_aligned(conn, tok, "v", pieces)
        rec["ingest_sec"] = round(time.perf_counter() - t0, 4)
        g1t, g1c = _gc_totals(jvm)
        rec["ingest_gc_ms"] = g1t - g0t
        rec["ingest_gc_count"] = g1c - g0c
        try:
            rec["ingest_jobs"] = _jobs_since(app_id, port, first_job)
        except Exception as e:  # REST off / parse issue: keep the phases
            rec["ingest_jobs_err"] = str(e)[:120]

        t0 = time.perf_counter()
        conn.finish_version(tok)
        rec["finish_sec"] = round(time.perf_counter() - t0, 4)
        reps.append(rec)
        print(json.dumps(rec), flush=True)

    out = {
        "cpus": cpus,
        "n_reps": n_reps,
        "reps": reps,
        "ingest_best": min(r["ingest_sec"] for r in reps),
        "ingest_worst": max(r["ingest_sec"] for r in reps),
        "gen_best": min(r["gen_sec"] for r in reps),
        "gen_worst": max(r["gen_sec"] for r in reps),
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PROBE_ARR_INGEST_r16.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)
    import shutil

    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
