#!/usr/bin/env python
"""q37 fused-vs-prefusion A/B at sf1 (r16): the r16 band-prune fusion
(sizes below the posting collection + in-emitter size-band prune) was
plan-verified and value-verified at sf0.01/0.1; the sf1 fixup window
it was first timed in was degraded (floor 0.178 vs the record's
0.126; even the UNCHANGED q40 read +50%), so this alternates the two
shapes inside ONE session at sf1 with the segmented runner's config
(shuffle=32, 512m splits, AQE off) and asserts result equality once.
The pre-fusion shape is inlined verbatim from 7436905^ (posting
collection without sizes; two post-pair broadcast size joins).

Usage: python tools/probe_q37_fusion_sf1.py [sf1_dir] [n_rounds]
Writes PROBE_Q37_FUSION_SF1_r16.json.
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

    from pyspark.sql import functions as F

    from mandoline_spark.functions.dedup import (
        doc_gram_hashes,
        ngram_jaccard_pairs,
    )
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("q37_fusion_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    sc = spark.sparkContext

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    THRESHOLD, N, MAX_DF = 0.5, 3, 20  # q37's declared parameters

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    def fused():
        return ngram_jaccard_pairs(d, threshold=THRESHOLD, n=N, max_df=MAX_DF)

    def prefusion():
        # verbatim pre-fusion broadcast shape (7436905^)
        g = (
            doc_gram_hashes(d, "text", "doc_id", N)
            .select(
                "id",
                F.size("ghashes").alias("ng"),
                F.explode_outer("ghashes").alias("gram"),
            )
            .where(F.col("gram").isNotNull())
        )
        surv = (
            g.drop("ng")
            .selectExpr(
                "*", "count(1) OVER (PARTITION BY gram) AS _bsz"
            )
            .where(f"_bsz <= {MAX_DF}")
            .drop("_bsz")
        )
        sizes = surv.groupBy("id").agg(F.expr("count(*) AS _sz"))
        posts = (
            surv.groupBy("gram")
            .agg(F.expr("sort_array(collect_list(struct(id))) AS _ids"))
            .where("size(_ids) >= 2")
        )
        pairs = (
            posts.select("_ids", F.posexplode("_ids").alias("_i", "_x"))
            .selectExpr(
                "explode_outer(transform("
                " slice(_ids, _i + 2, greatest(size(_ids) - _i - 1, 0)),"
                " y -> named_struct('a', _x.id, 'b', y.id))) AS _p"
            )
            .where("_p IS NOT NULL")
            .selectExpr("_p.a AS a", "_p.b AS b")
            .groupBy("a", "b")
            .agg(F.expr("count(*) AS common"))
        )
        sa = F.broadcast(sizes.selectExpr("id AS a", "_sz AS na"))
        sb = F.broadcast(sizes.selectExpr("id AS b", "_sz AS nb"))
        common = pairs.join(sa, "a").join(sb, "b")
        jac_sql = "common / (na + nb - common)"
        out = common.where(f"{jac_sql} >= {THRESHOLD!r}").selectExpr(
            "a", "b", f"round({jac_sql}, 6) AS jac"
        )
        return out.repartition(1).sortWithinPartitions("a", "b")

    ref = [tuple(r) for r in fused().collect()]
    assert ref == [tuple(r) for r in prefusion().collect()]
    print(f"equality ok: {len(ref)} pairs", flush=True)

    tracker = sc.statusTracker()
    res: dict = {"fused": {"runs": []}, "prefusion": {"runs": []}}
    for _ in range(n_rounds):
        for label, builder in (("fused", fused), ("prefusion", prefusion)):
            ids0 = set(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            run(builder())
            res[label]["runs"].append(round(time.perf_counter() - t0, 4))
            res[label]["jobs"] = len(
                set(tracker.getJobIdsForGroup(None) or []) - ids0
            )
    for label in res:
        r = res[label]
        r["best"] = min(r["runs"])
        r["median"] = sorted(r["runs"])[len(r["runs"]) // 2]
    out = {
        "sf_dir": sf_dir,
        "n_rounds": n_rounds,
        "n_pairs": len(ref),
        **res,
    }
    print(json.dumps(out), flush=True)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PROBE_Q37_FUSION_SF1_r16.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
