#!/usr/bin/env python
"""Concurrent-8 window-sensitivity probe (VERDICT r8 #8).

The driver's noisy window showed concurrent8 12.25s (vs its own
sequential floor-sum ~26s and DuckDB-concurrent 10.95s) while the
builder's clean window showed 6.19s vs 13.69s.  This probe measures,
in ONE session: the zero-data scheduling floor, the sequential sum,
and concurrent-8 under (FIFO, FAIR, 4-thread) settings, repeated, so
the spread and any scheduler-config lever are quantified on whatever
window it runs in.  Findings recorded in BASELINE.md.
"""
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mandoline_spark.queries import QUERIES  # noqa: E402
from mandoline_spark.sources.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sched = os.environ.get("PROBE_SCHEDULER", "FIFO").upper()
    if sched != "FIFO":
        # spark.scheduler.mode is read once at SparkContext creation —
        # an in-session conf.set is silently ignored, so the FAIR arm
        # pre-creates the context (same core sizing + driver heap as
        # session.py) and get_spark() reuses it via getOrCreate.
        from pyspark.sql import SparkSession

        from mandoline_spark.sources.session import _default_driver_mem

        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
        (SparkSession.builder.appName("throughput_probe")
         .master(f"local[{cpus}]")
         .config("spark.scheduler.mode", sched)
         .config("spark.driver.memory",
                 os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                _default_driver_mem()))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
    spark = get_spark("throughput_probe")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")

    from pyspark.sql import functions as F

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    def floor() -> float:
        xs = []
        for _ in range(5):
            t0 = time.perf_counter()
            run(spark.range(8).groupBy((F.col("id") % 2).alias("k")).count())
            xs.append(time.perf_counter() - t0)
        return sorted(xs)[2]

    # skip the iterative/array entries: they rebuild driver-side state
    # per pass and are not part of the pipelining question
    skip = {
        "q82_neardup_clusters", "q83_dedup_cluster_keep",
        "q66_ann_ivf_top1", "q34_array_slice", "q35_array_timetravel",
        "q81_array_version_diff",
    }
    names = [n for n in sorted(QUERIES) if n not in skip]
    with ThreadPoolExecutor(16) as pool:
        built = dict(zip(names, pool.map(
            lambda n: QUERIES[n](spark, sf_dir), names)))
    for n in names[:4]:
        run(built[n])  # session warmup

    def sequential() -> float:
        t0 = time.perf_counter()
        for n in names:
            run(built[n])
        return time.perf_counter() - t0

    def concurrent(k: int) -> float:
        t0 = time.perf_counter()
        with ThreadPoolExecutor(k) as pool:
            list(pool.map(lambda n: run(built[n]), names))
        return time.perf_counter() - t0

    out: dict = {
        "sf_dir": sf_dir,
        "n_queries": len(names),
        "scheduler": sched,
    }
    reps = int(os.environ.get("PROBE_REPS", "2"))
    for rep in range(reps):
        rec = {"floor_before": round(floor(), 4)}
        rec["seq_sum"] = round(sequential(), 4)
        rec["c8"] = round(concurrent(8), 4)
        rec["c4"] = round(concurrent(4), 4)
        rec["c16"] = round(concurrent(16), 4)
        rec["floor_after"] = round(floor(), 4)
        out[f"rep{rep}"] = rec
        print(json.dumps({f"rep{rep}": rec}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
