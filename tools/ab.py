#!/usr/bin/env python
"""Alternating A/B of declared queries between two checkouts of this
repo, timed the way bench.py times them.

Each run is a fresh process on one checkout: bench.py's session
(``get_spark``, ``local[$SPARK_GRAFT_CPUS]``, shuffle partitions 8,
``maxPartitionBytes`` 512m), each query warmed once, then timed
``passes`` times with bench.py's ``run()`` kernel (a fresh projection
executed through ``toRdd().count()``; queries whose construction runs
Spark jobs are rebuilt per pass, as bench.py's ``rebuild_per_pass``
does).  Every pass runs in its own job group, and the status store's
``lastStageAttempt`` gives its stages' shuffle write bytes and
executor run time (as ``perfbench/spans.py`` reads them; the UI can
stay off).  Runs alternate in pairs, baseline first on even pairs and
current first on odd ones, so host drift hits both sides.  Each run's
sorted output digest must equal the baseline's.

``--queries`` takes comma-separated query names or their ``qNN``
prefixes; the default is the five declared dedup queries (q36, q37,
q38, q82, q83), the set ``PROBE_DEDUP_QUERIES_AB_SF01.json`` records.

Usage:
    python tools/ab.py BASELINE_DIR CURRENT_DIR SF_DIR --out OUT_JSON \
        [--queries q36,q37,...] [--pairs 10] [--passes 3]
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

DEDUP_QUERIES = "q36,q37,q38,q82,q83"
REBUILD_PER_PASS = {
    "q34_array_slice",
    "q35_array_timetravel",
    "q66_ann_ivf_top1",
    "q81_array_version_diff",
    "q82_neardup_clusters",
    "q83_dedup_cluster_keep",
}


def _resolve(tokens: list, names) -> list:
    """Full query names for ``tokens`` (a name, or its ``qNN`` prefix)."""
    out = []
    for t in tokens:
        hits = [n for n in names if n == t or n.startswith(t + "_")]
        if len(hits) != 1:
            raise SystemExit(f"query {t!r} matches {sorted(hits)}")
        out.append(hits[0])
    return out


def child(tree: str, sf_dir: str, passes: int, queries: str) -> None:
    """One run on checkout ``tree``: print one JSON line."""
    import hashlib

    sys.path.insert(0, tree)
    from mandoline_spark.queries import QUERIES
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("ab")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    tracker = sc.statusTracker()
    jsc = sc._jsc.sc()
    store, bus = jsc.statusStore(), jsc.listenerBus()

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    def stages(group: str) -> dict:
        """Jobs and stage totals of ``group`` from the status store."""
        bus.waitUntilEmpty()
        tot = {"jobs": 0, "shuffle_write_bytes": 0, "exec_run_s": 0.0}
        for jid in tracker.getJobIdsForGroup(group):
            tot["jobs"] += 1
            for sid in tracker.getJobInfo(jid).stageIds:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["exec_run_s"] += sd.executorRunTime() / 1000.0
        tot["exec_run_s"] = round(tot["exec_run_s"], 3)
        return tot

    out: dict = {}
    for name in _resolve(queries.split(","), QUERIES):
        rows = sorted(map(tuple, QUERIES[name](spark, sf_dir).collect()))
        built = QUERIES[name](spark, sf_dir)
        run(built)  # warm-up
        res = {"rows": len(rows),
               "digest": hashlib.sha1(repr(rows).encode()).hexdigest(),
               "wall_s": []}
        for i in range(passes):
            group = f"ab-{name}-{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            run(QUERIES[name](spark, sf_dir) if name in REBUILD_PER_PASS else built)
            res["wall_s"].append(round(time.perf_counter() - t0, 4))
            sc.setLocalProperty("spark.jobGroup.id", None)
            for k, v in stages(group).items():
                res.setdefault(k, []).append(v)
        out[name] = res
    print(json.dumps(out), flush=True)
    spark.stop()


def _quartiles(xs: list) -> list:
    q = statistics.quantiles(xs, n=4)
    return [round(q[0], 4), round(statistics.median(xs), 4), round(q[2], 4)]


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("baseline")
    ap.add_argument("current")
    ap.add_argument("sf_dir")
    ap.add_argument("--out", required=True)
    ap.add_argument("--queries", default=DEDUP_QUERIES)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--passes", type=int, default=3)
    a = ap.parse_args()

    runs: dict = {"baseline": [], "current": []}
    for i in range(a.pairs):
        order = ["baseline", "current"] if i % 2 == 0 else ["current", "baseline"]
        for side in order:
            tree = a.baseline if side == "baseline" else a.current
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", tree,
                 a.sf_dir, str(a.passes), a.queries],
                check=True, capture_output=True, text=True,
            )
            runs[side].append(json.loads(res.stdout.strip().splitlines()[-1]))
        print(f"pair {i + 1}/{a.pairs} done", file=sys.stderr, flush=True)

    record: dict = {
        "sf": os.path.basename(a.sf_dir.rstrip("/")),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS", "unset (32)"),
        "host_cpus": len(os.sched_getaffinity(0)),
        "n_pairs": a.pairs,
        "passes": a.passes,
        "queries": {},
    }
    ref = runs["baseline"][0]
    for name in ref:
        per = {s: [r[name] for r in runs[s]] for s in runs}
        for side in per:
            for r in per[side]:
                assert r["digest"] == ref[name]["digest"], (side, name)
        # one number per run: its best pass, as bench.py reports best-of
        best = {s: [min(r["wall_s"]) for r in per[s]] for s in per}
        exec_best = {s: [min(r["exec_run_s"]) for r in per[s]] for s in per}
        record["queries"][name] = {
            "rows": ref[name]["rows"],
            "digests_equal": True,
            "jobs": {s: sorted({j for r in per[s] for j in r["jobs"]}) for s in per},
            "shuffle_write_bytes": {
                s: sorted({b for r in per[s] for b in r["shuffle_write_bytes"]})
                for s in per
            },
            "best_wall_s": best,
            "quartiles_s": {s: _quartiles(best[s]) for s in per},
            "exec_run_s": exec_best,
            "exec_run_quartiles_s": {s: _quartiles(exec_best[s]) for s in per},
            "current_faster_pairs": sum(
                c < b for b, c in zip(best["baseline"], best["current"])
            ),
        }
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: v["quartiles_s"] for k, v in record["queries"].items()}))


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        child(sys.argv[2], sys.argv[3], int(sys.argv[4]), sys.argv[5])
    else:
        main()
