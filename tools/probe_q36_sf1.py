#!/usr/bin/env python
"""q36 stage decomposition at sf1 (r16 "Not yet optimized" follow-up):
q36 is the largest non-CC sf1 entry (~19-23 s) and reads only 1.36x
across a 4x core cut — this attributes the constant by timing each
pipeline prefix in one session: (a) the gram-hash pipeline alone
(split/shingle/xxhash64 HOFs), (b) + the Arrow minhash signature,
(c) + banding and candidate emission, (d) the full verified pairs.
Prefixes share no cached state (each is a fresh plan over the scan).

Usage: python tools/probe_q36_sf1.py [sf1_dir] [n_rounds]
Writes PROBE_Q36_SF1_r16.json.
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

    from mandoline_spark.functions import dedup as D
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("q36_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    K, BANDS, T, MB = 64, 16, 0.8, 10_000  # q36's declared parameters

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    def grams():
        return D.doc_gram_hashes(d, "text", "doc_id", 3)

    def sigs():
        g = grams()
        return g.select(
            "id", D._minhash_kernel(K, 42)(F.col("ghashes")).alias("sig")
        )

    def cands():
        banded = D._banded(sigs(), K, BANDS)
        return D._posting_pairs(
            banded, ["band_id", "band_hash"], [], MB
        ).distinct()

    def full():
        return D.minhash_lsh_pairs(
            d, threshold=T, n=3, k=K, bands=BANDS, max_bucket=MB
        )

    stages = (
        ("a_gram_hashes", grams),
        ("b_plus_signature", sigs),
        ("c_plus_band_candidates", cands),
        ("d_full_verified", full),
    )
    for _, b in stages:  # warmup
        run(b())
    out: dict = {"sf_dir": sf_dir, "n_rounds": n_rounds, "stages": {}}
    res = {name: [] for name, _ in stages}
    for _ in range(n_rounds):
        for name, builder in stages:
            t0 = time.perf_counter()
            run(builder())
            res[name].append(round(time.perf_counter() - t0, 4))
    for name, _ in stages:
        out["stages"][name] = {
            "runs": res[name],
            "best": min(res[name]),
            "median": sorted(res[name])[n_rounds // 2],
        }
        print(name, out["stages"][name], flush=True)

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PROBE_Q36_SF1_r16.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
