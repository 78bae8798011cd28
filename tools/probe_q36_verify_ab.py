#!/usr/bin/env python
"""q36 verify-shape A/B (r16): the r9-r15 broadcast verify recomputed
the gram expression per candidate MEMBER ROW off the raw scan; the
r16 shape streams the one-pass gram pipeline (dgh) past the candidate
member rows (today through the shuffled hash join of
``dedup._verify_jaccard``).  Alternates both shapes in one session at a
given sf dir, asserts result equality once, reports best/median.
The old shape is inlined verbatim from the pre-change code.

Usage: python tools/probe_q36_verify_ab.py SF_DIR [n_rounds] [tag]
Writes PROBE_Q36_VERIFY_<tag>_r16.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1]
    n_rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    tag = sys.argv[3] if len(sys.argv) > 3 else "SF"

    from pyspark.sql import Column, functions as F

    from mandoline_spark.functions import dedup as D
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("q36_verify_ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    T, N, K, BANDS, MB = 0.8, 3, 64, 16, 10_000  # q36's parameters

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    def new_shape():
        return D.minhash_lsh_pairs(
            d, threshold=T, n=N, k=K, bands=BANDS, max_bucket=MB
        )

    def _ghashes_col_old(text_col: str, n: int) -> Column:
        # verbatim pre-change helper (deleted with the old shape)
        gets = ", ".join(f"get(_w, i + {j})" for j in range(n))
        return F.expr(
            f"transform(array(split({text_col}, '\\\\s+')), _w -> "
            f"array_distinct(transform(filter("
            f"transform(sequence(0, greatest(size(_w) - {n}, 0)),"
            f" i -> concat_ws(' ', {gets})),"
            f" g -> length(g) > 0), g -> xxhash64(g))))[0]"
        )

    def old_shape():
        # verbatim pre-change pipeline (per-member gram recompute)
        dgh = D.doc_gram_hashes(d, "text", "doc_id", N)
        sig = dgh.select(
            "id", D._minhash_kernel(K, 42)(F.col("ghashes")).alias("sig")
        )
        banded = D._banded(sig, K, BANDS)
        cand = D._posting_pairs(
            banded, ["band_id", "band_hash"], [], MB
        ).distinct()
        sides_small = cand.select(
            "a", "b", F.explode(F.array("a", "b")).alias("id")
        )
        corpus, cnd = d.alias("_corpus"), F.broadcast(
            sides_small
        ).alias("_cand")
        sides = corpus.join(
            cnd, F.col("_corpus.doc_id") == F.col("_cand.id")
        ).select(
            F.col("_cand.a").alias("a"),
            F.col("_cand.b").alias("b"),
            F.col("_cand.id").alias("id"),
            _ghashes_col_old("text", N).alias("ghashes"),
        )
        paired = sides.groupBy("a", "b").agg(
            F.first(
                F.when(F.col("id") == F.col("a"), F.col("ghashes")),
                ignorenulls=True,
            ).alias("_ga"),
            F.first(
                F.when(F.col("id") == F.col("b"), F.col("ghashes")),
                ignorenulls=True,
            ).alias("_gb"),
        )
        common = F.size(F.array_intersect("_ga", "_gb"))
        jac = common / (F.size("_ga") + F.size("_gb") - common)
        out = (
            paired.withColumn("_jac", jac)
            .filter(F.col("_jac") >= T)
            .select("a", "b", F.round("_jac", 6).alias("jac"))
        )
        return out.repartition(1).sortWithinPartitions("a", "b")

    ref = [tuple(r) for r in new_shape().collect()]
    assert ref == [tuple(r) for r in old_shape().collect()]
    print(f"equality ok: {len(ref)} pairs", flush=True)

    res: dict = {"new_dgh_probe": {"runs": []}, "old_member_recompute": {"runs": []}}
    builders = (("new_dgh_probe", new_shape), ("old_member_recompute", old_shape))
    for _, b in builders:  # warmup
        run(b())
    for _ in range(n_rounds):
        for label, builder in builders:
            t0 = time.perf_counter()
            run(builder())
            res[label]["runs"].append(round(time.perf_counter() - t0, 4))
    for label in res:
        r = res[label]
        r["best"] = min(r["runs"])
        r["median"] = sorted(r["runs"])[len(r["runs"]) // 2]
    out = {"sf_dir": sf_dir, "n_rounds": n_rounds, "n_pairs": len(ref), **res}
    print(json.dumps(out), flush=True)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f"PROBE_Q36_VERIFY_{tag}_r16.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
