#!/usr/bin/env python
"""Core-count scaling at sf1 (VERDICT r15 #7): the sf0.1 c8/c32 block
is structurally uninformative — >50% of each query's wall there is the
per-job scheduling floor, so cutting cores re-measures constants.
This times a hand-picked REAL-WORK subset at sf1 (CC iteration, text
kernels, window class, posting-list dedup, plus two floor-bound
controls) under whatever SPARK_GRAFT_CPUS the caller sets; run it once
at 32 and once at 8 and stitch with `merge`.

Usage:
  SPARK_GRAFT_CPUS=32 python tools/probe_scaling_sf1.py run c32 [sf1_dir]
  SPARK_GRAFT_CPUS=8  python tools/probe_scaling_sf1.py run c8  [sf1_dir]
  python tools/probe_scaling_sf1.py merge c32 c8
Writes PROBE_SCALING_SF1_r16_<label>.json / PROBE_SCALING_SF1_r16.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Real-work set (measured multi-second at sf1 in the r15 segmented
# record) + two floor-bound controls the table is expected to show as
# NON-scaling, so the floor-bound class is identified, not inferred.
REAL_WORK = [
    "q82_neardup_clusters",
    "q83_dedup_cluster_keep",
    "q36_minhash_neardup",
    "q37_ngram_jaccard",
    "q38_simhash_neardup",
    "q15_window_lag",
    "q85_vocab_df_topk",
    "q84_tfidf_top_term",
    "q92_word_entropy",
    "q99_repetition_screen",
    "q02_filter",
]
FLOOR_CONTROLS = ["q01_scan_project", "q17_topk"]
REBUILD_PER_PASS = {"q82_neardup_clusters", "q83_dedup_cluster_keep"}


def run_label(label: str, sf1_dir: str) -> None:
    from bench import make_mf_fixture
    from mandoline_spark.queries import QUERIES
    from mandoline_spark.sources.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(f"scaling_probe_{label}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    mf_dir = make_mf_fixture(sf1_dir)
    names = REAL_WORK + FLOOR_CONTROLS
    built = {
        n: QUERIES[n](spark, mf_dir)
        for n in names
        if n not in REBUILD_PER_PASS
    }
    for n in names:  # warmup (codegen, footers)
        run(QUERIES[n](spark, mf_dir) if n in REBUILD_PER_PASS else built[n])

    from pyspark.sql import functions as F

    floors = []
    for _ in range(5):
        t0 = time.perf_counter()
        run(spark.range(8).groupBy((F.col("id") % 2).alias("k")).count())
        floors.append(time.perf_counter() - t0)
    floor = sorted(floors)[2]

    out = {
        "label": label,
        "cpus": int(cpus),
        "sf_dir": sf1_dir,
        "sched_floor_sec": round(floor, 4),
        "queries": {},
    }
    for n in names:
        runs = []
        for _ in range(3):
            # REBUILD_PER_PASS queries (the CC pair) do their real work
            # EAGERLY during construction — the iteration materializes
            # inside QUERIES[n](...) — so t0 must start BEFORE the
            # build (the same r15 timer bug bench_sf1_segmented.py
            # fixed: timing only the final scan read 0.112 s for a
            # 22 s query)
            if n in REBUILD_PER_PASS:
                t0 = time.perf_counter()
                run(QUERIES[n](spark, mf_dir))
            else:
                t0 = time.perf_counter()
                run(built[n])
            runs.append(time.perf_counter() - t0)
        out["queries"][n] = {
            "best": round(min(runs), 4),
            "runs": [round(r, 4) for r in runs],
        }
        print(n, out["queries"][n], flush=True)
    path = os.path.join(ROOT, f"PROBE_SCALING_SF1_r16_{label}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)


def merge(labels: list[str]) -> None:
    parts = {
        lab: json.load(open(os.path.join(ROOT, f"PROBE_SCALING_SF1_r16_{lab}.json")))
        for lab in labels
    }
    hi, lo = labels[0], labels[1]
    table = {}
    for n in parts[hi]["queries"]:
        a = parts[hi]["queries"][n]["best"]
        b = parts[lo]["queries"][n]["best"]
        table[n] = {
            f"{hi}_best": a,
            f"{lo}_best": b,
            "low_over_high": round(b / a, 2) if a else None,
        }
    out = {
        "cpus": {lab: parts[lab]["cpus"] for lab in labels},
        "floors": {lab: parts[lab]["sched_floor_sec"] for lab in labels},
        "core_ratio": round(parts[hi]["cpus"] / parts[lo]["cpus"], 2),
        "per_query": table,
    }
    path = os.path.join(ROOT, "PROBE_SCALING_SF1_r16.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["per_query"], indent=1))
    print("wrote", path)


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "run":
        run_label(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else "/root/repo/.derived/sf1")
    elif mode == "merge":
        merge(sys.argv[2:4])
    else:
        raise SystemExit(f"unknown mode {mode}")
