#!/usr/bin/env python
"""A/B of the declared dedup queries (q36, q37, q38, q82, q83) between
two checkouts of this repo, timed the way bench.py times them.

Each run is a fresh process on one checkout: bench.py's session
(``get_spark``, ``local[$SPARK_GRAFT_CPUS]``, shuffle partitions 8,
``maxPartitionBytes`` 512m), each query warmed once, then timed
``passes`` times with bench.py's ``run()`` kernel (a fresh projection
executed through ``toRdd().count()``; q82/q83 are rebuilt per pass,
as bench.py's ``rebuild_per_pass`` does).  Runs alternate in pairs,
baseline first on even pairs and current first on odd ones, so host
drift hits both sides.  Each run's sorted output digest must equal the
baseline's, and its per-query Spark jobs are recorded.  Writes the
JSON record to ``out_json`` (default PROBE_DEDUP_QUERIES_AB_SF01.json
at the repo root).

Usage:
    python tools/probe_dedup_queries_ab.py BASELINE_DIR CURRENT_DIR SF_DIR \
        [n_pairs] [passes] [out_json]
"""
from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY_NAMES = [
    "q36_minhash_neardup",
    "q37_ngram_jaccard",
    "q38_simhash_neardup",
    "q82_neardup_clusters",
    "q83_dedup_cluster_keep",
]
REBUILD_PER_PASS = {"q82_neardup_clusters", "q83_dedup_cluster_keep"}


def child(tree: str, sf_dir: str, passes: int) -> None:
    """One run on checkout ``tree``: print one JSON line."""
    import hashlib

    sys.path.insert(0, tree)
    from mandoline_spark.queries import QUERIES
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("dedup_queries_ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    tracker = spark.sparkContext.statusTracker()

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    out: dict = {}
    for name in QUERY_NAMES:
        rows = sorted(map(tuple, QUERIES[name](spark, sf_dir).collect()))
        built = QUERIES[name](spark, sf_dir)
        run(built)  # warm-up
        wall, jobs = [], []
        for _ in range(passes):
            ids0 = set(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            run(QUERIES[name](spark, sf_dir) if name in REBUILD_PER_PASS else built)
            wall.append(round(time.perf_counter() - t0, 4))
            jobs.append(len(set(tracker.getJobIdsForGroup(None) or []) - ids0))
        out[name] = {
            "rows": len(rows),
            "digest": hashlib.sha1(repr(rows).encode()).hexdigest(),
            "wall_s": wall,
            "jobs": jobs,
        }
    print(json.dumps(out), flush=True)
    spark.stop()


def _quartiles(xs: list) -> list:
    q = statistics.quantiles(xs, n=4)
    return [round(q[0], 4), round(statistics.median(xs), 4), round(q[2], 4)]


def main() -> None:
    base, cur, sf_dir = sys.argv[1:4]
    n_pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 10
    passes = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    out_path = (
        sys.argv[6]
        if len(sys.argv) > 6
        else os.path.join(ROOT, "PROBE_DEDUP_QUERIES_AB_SF01.json")
    )
    runs: dict = {"baseline": [], "current": []}
    for i in range(n_pairs):
        order = ["baseline", "current"] if i % 2 == 0 else ["current", "baseline"]
        for side in order:
            tree = base if side == "baseline" else cur
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", tree,
                 sf_dir, str(passes)],
                check=True, capture_output=True, text=True,
            )
            runs[side].append(json.loads(res.stdout.strip().splitlines()[-1]))
        print(f"pair {i + 1}/{n_pairs} done", file=sys.stderr, flush=True)

    record: dict = {
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS", "unset (32)"),
        "host_cpus": len(os.sched_getaffinity(0)),
        "n_pairs": n_pairs,
        "passes": passes,
        "queries": {},
    }
    ref = runs["baseline"][0]
    for name in QUERY_NAMES:
        for side in runs:
            for r in runs[side]:
                assert r[name]["digest"] == ref[name]["digest"], (side, name)
        # one number per run: its best pass, as bench.py reports best-of
        best = {s: [min(r[name]["wall_s"]) for r in runs[s]] for s in runs}
        record["queries"][name] = {
            "rows": ref[name]["rows"],
            "jobs": {s: sorted({j for r in runs[s] for j in r[name]["jobs"]}) for s in runs},
            "best_wall_s": best,
            "quartiles_s": {s: _quartiles(best[s]) for s in runs},
            "current_faster_pairs": sum(
                c < b for b, c in zip(best["baseline"], best["current"])
            ),
        }
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: v["quartiles_s"] for k, v in record["queries"].items()}))


if __name__ == "__main__":
    if sys.argv[1] == "--child":
        child(sys.argv[2], sys.argv[3], int(sys.argv[4]))
    else:
        main()
