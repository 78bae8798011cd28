#!/usr/bin/env python
"""A/B the shipped AQE setting (off) against AQE on, bench.py sizing
(8 shuffle partitions, 512m splits); the conf is the only difference.

``array on|off``: bench.py's ``bench_array`` once (one-shot ingest, so
alternate fresh processes for pairs); prints its ``arr_*`` keys and
the Spark jobs it launched.  ``sample SF_DIR``: every 5th declared
query on the mf16 layout, modes interleaved in one session after one
untimed pass of each, best of 2 (build + run) per query and mode, with
job and row counts per query.

Usage: python tools/probe_aqe_default.py array on|off
       python tools/probe_aqe_default.py sample SF_DIR
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import bench_array, make_mf_fixture
    from mandoline_spark.queries import QUERIES
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("aqe_default_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    tracker = spark.sparkContext.statusTracker()

    def jobs() -> set:
        return set(tracker.getJobIdsForGroup(None))

    def aqe(mode: str) -> None:
        spark.conf.set("spark.sql.adaptive.enabled", str(mode == "on").lower())

    if sys.argv[1] == "array":
        aqe(sys.argv[2])
        j0 = jobs()
        out = {k: v for k, v in bench_array(spark).items()
               if not k.endswith(("_runs", "_spread"))}
        print(json.dumps({"aqe": sys.argv[2], "jobs": len(jobs() - j0), **out}))
        return
    sf_dir = sys.argv[2]
    mf_dir = make_mf_fixture(sf_dir)
    per: dict[str, dict] = {n: {} for n in sorted(QUERIES)[::5]}
    # pass 0 warms both modes (codegen, footers, fixtures), untimed
    for p, modes in enumerate((("on", "off"), ("off", "on"), ("on", "off"))):
        for mode in modes:
            aqe(mode)
            for name, r in per.items():
                j0, t0 = jobs(), time.perf_counter()
                df = QUERIES[name](spark, mf_dir).select("*")
                rows = df._jdf.queryExecution().toRdd().count()
                dt = round(time.perf_counter() - t0, 4)
                if p == 0:
                    continue
                m = r.setdefault(mode, {"rows": rows, "sec": dt})
                m.update(jobs=len(jobs() - j0), sec=min(m["sec"], dt))
                assert rows == r[modes[0]]["rows"] == m["rows"], (name, r)
    print(json.dumps({
        "sf_dir": sf_dir, "n_queries": len(per), "per_query": per,
        **{f"{m}_{k}": round(sum(r[m][k] for r in per.values()), 4)
           for m in ("off", "on") for k in ("sec", "jobs")},
    }))


if __name__ == "__main__":
    main()
