#!/usr/bin/env python
"""q82/q83 hop-composition A/B at sf1 (VERDICT r15 #5): the r13
3-vs-2-hops experiment ran at sf0.1 where the scheduling floor
dominates; this reruns it at the scale point where the joins are real
work.  Variants alternate (2,3,2,3,...) inside one session so host
drift hits both sides; outputs are compared for exact equality once
per variant.  Writes PROBE_CC_HOPS_SF1_r16.json.

Usage: python tools/probe_cc_hops_sf1.py [sf1_dir] [n_rounds]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.derived/sf1"
    n_rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    hops_variants = (2, 3)

    from pyspark.sql import functions as F

    from mandoline_spark.functions.dedup import ngram_jaccard_pairs
    from mandoline_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("cc_hops_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    sc = spark.sparkContext

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    def q82_like(hops):
        pairs = ngram_jaccard_pairs(d, threshold=0.8, n=3, ordered=False)
        return connected_components(
            pairs.select("a", "b"), hops_per_job=hops
        )

    def q83_like(hops):
        pairs = ngram_jaccard_pairs(d, threshold=0.8, n=3, ordered=False)
        return dedup_clusters(
            d.select("doc_id", "n_chars"),
            pairs.select("a", "b"),
            hops_per_job=hops,
        )

    # result equality, once per shape
    ref82 = sorted(tuple(r) for r in q82_like(2).collect())
    assert ref82 == sorted(tuple(r) for r in q82_like(3).collect())
    ref83 = sorted(tuple(r) for r in q83_like(2).collect())
    assert ref83 == sorted(tuple(r) for r in q83_like(3).collect())
    print(f"equality ok: q82 {len(ref82)} rows, q83 {len(ref83)} rows")

    tracker = sc.statusTracker()
    out: dict = {"sf_dir": sf_dir, "n_rounds": n_rounds}
    for label, builder in (("q82", q82_like), ("q83", q83_like)):
        res: dict = {}
        for hops in hops_variants:
            res[str(hops)] = {"runs": [], "jobs": None}
        for _ in range(n_rounds):
            for hops in hops_variants:
                ids0 = set(tracker.getJobIdsForGroup(None) or [])
                t0 = time.perf_counter()
                run(builder(hops))
                dt = time.perf_counter() - t0
                ids1 = set(tracker.getJobIdsForGroup(None) or [])
                res[str(hops)]["runs"].append(round(dt, 4))
                res[str(hops)]["jobs"] = len(ids1 - ids0)
        for hops in hops_variants:
            r = res[str(hops)]
            r["best"] = min(r["runs"])
            r["median"] = sorted(r["runs"])[len(r["runs"]) // 2]
        out[label] = res
        print(label, json.dumps(res), flush=True)

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PROBE_CC_HOPS_SF1_r16.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
