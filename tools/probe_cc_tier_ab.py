#!/usr/bin/env python
"""q82/q83 A/B of ``operators/graph.py`` against another copy of that
file (for example graph.py from a checkout of the parent commit), in
one Spark session.

The two module versions alternate inside each round (baseline first on
even rounds, current first on odd ones) so host drift hits both sides.
Every run's output is asserted equal to the baseline's first output,
and the run's Spark jobs and wall time are recorded.  Writes
PROBE_CC_TIER_AB_SF01.json at the repo root (or the path given); the
baseline is identified by the SHA-1 of its source.

Usage:
    python tools/probe_cc_tier_ab.py BASELINE_GRAPH_PY SF_DIR [n_rounds] [out_json]
"""
from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    base_path = sys.argv[1]
    sf_dir = sys.argv[2]
    n_rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    out_path = (
        sys.argv[4]
        if len(sys.argv) > 4
        else os.path.join(ROOT, "PROBE_CC_TIER_AB_SF01.json")
    )

    from mandoline_spark.operators import graph
    from mandoline_spark.queries import QUERIES
    from mandoline_spark.sources.session import get_spark

    spec = importlib.util.spec_from_file_location("graph_baseline", base_path)
    baseline = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(baseline)
    variants = {
        "baseline": (baseline.connected_components, baseline.dedup_clusters),
        "current": (graph.connected_components, graph.dedup_clusters),
    }

    spark = get_spark("cc_tier_ab")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    def run(variant: str, query: str) -> tuple[list, int, float]:
        # q82/q83 import the operator at call time, so patching the
        # module attributes swaps the implementation they run
        graph.connected_components, graph.dedup_clusters = variants[variant]
        ids0 = set(tracker.getJobIdsForGroup(None) or [])
        t0 = time.perf_counter()
        rows = [tuple(r) for r in QUERIES[query](spark, sf_dir).collect()]
        dt = time.perf_counter() - t0
        jobs = len(set(tracker.getJobIdsForGroup(None) or []) - ids0)
        return rows, jobs, dt

    with open(base_path, "rb") as f:
        base_sha1 = hashlib.sha1(f.read()).hexdigest()
    out: dict = {
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "n_rounds": n_rounds,
        "baseline_sha1": base_sha1,
        "cpus": os.cpu_count(),
    }
    try:
        for query in ("q82_neardup_clusters", "q83_dedup_cluster_keep"):
            ref, _, _ = run("baseline", query)  # warm-up and reference
            res: dict = {v: {"jobs": [], "wall_s": []} for v in variants}
            for r in range(n_rounds):
                order = ("baseline", "current") if r % 2 == 0 else ("current", "baseline")
                for v in order:
                    rows, jobs, dt = run(v, query)
                    assert rows == ref, (query, v, r)
                    res[v]["jobs"].append(jobs)
                    res[v]["wall_s"].append(round(dt, 3))
            res["rows"] = len(ref)
            out[query] = res
            print(query, json.dumps(res), flush=True)
    finally:
        graph.connected_components, graph.dedup_clusters = variants["current"]
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
