"""Operator scaling harness: how do the pipeline operators' wall times
grow with corpus volume?

Builds 1x/2x/5x/10x replicas of the sf0.1 documents corpus under
/tmp/scale and times the heavy LLM-pipeline operators at each scale.
Two properties make the replicas an honest scaling workload:

- **Copy-unique vocabularies**: every word of copy c > 0 is prefixed
  ``c{c}x``, so each copy's internal gram/dup structure is IDENTICAL
  to copy 0 while cross-copy trigram overlap is zero — near-dup pair
  volume scales exactly linearly with the corpus (the naive
  text-identical replica makes all siblings mutual dups: quadratic
  pair blowup that measures the wrong thing).
- **Multi-file inputs** (4 parquet files per copy): scan parallelism
  grows with the corpus, the shape a many-file 100 TB input has.  A
  single-file corpus pins the scan AND everything below the first
  exchange to ONE task — measured 5x noise and false superlinearity.

AQE stays ON: this measures the shapes as a cluster runs them
(runtime coalescing included), the scaling story rather than the
per-query constant story bench.py's AQE-off loop isolates.

Round-8 findings (local[32], best-of-3, time_x10 / time_x1 — ideal
linear = 10, smaller is better): minhash_lsh 1.5-1.9x, simhash
1.6-1.7x, cc_clusters 1.5-2.1x, entropy 1.8-2.9x; jaccard 1.3x
(2.45s -> 3.14s) with the per-doc set sizes broadcast onto the posting
rows, against 4.0x (1.86s -> 7.36s) for the former shape that joined
them onto the 12.5M-row pair stream at 10x (ngram_jaccard_pairs now
always attaches them below the posting collection).

Usage: PYTHONPATH=<repo> python tools/scale_check.py
"""
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from mandoline_spark.functions.dedup import (  # noqa: E402
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from mandoline_spark.operators.graph import connected_components  # noqa: E402
from mandoline_spark.sources.session import get_spark  # noqa: E402

SRC = os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
) + "/documents.parquet"
BASE = "/tmp/scale"
MULTS = (1, 2, 5, 10)


def build_corpora() -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(SRC).to_pandas()
    n = len(src)
    for mult in MULTS:
        outdir = f"{BASE}/x{mult}/documents.parquet"
        shutil.rmtree(outdir, ignore_errors=True)
        os.makedirs(outdir, exist_ok=True)
        for c in range(mult):
            p = src.copy()
            p["doc_id"] = p["doc_id"] + c * 1_000_000
            if c > 0:
                p["text"] = (
                    p["text"]
                    .astype(str)
                    .str.replace(r"(\S+)", rf"c{c}x\1", regex=True)
                )
                p["n_chars"] = p["text"].str.len()
            for s in range(4):
                part = p.iloc[s * n // 4 : (s + 1) * n // 4]
                pq.write_table(
                    pa.Table.from_pandas(part, preserve_index=False),
                    f"{outdir}/part-{c:02d}-{s}.parquet",
                )


def main() -> None:
    build_corpora()
    spark = get_spark()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    def docs(mult):
        return spark.read.parquet(f"{BASE}/x{mult}/documents.parquet")

    def best3(fn):
        b = None
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            b = dt if b is None else min(b, dt)
        return b

    ops = {
        "jaccard": lambda d: ngram_jaccard_pairs(
            d, threshold=0.5, n=3, max_df=20, ordered=False
        ).count(),
        "minhash_lsh": lambda d: minhash_lsh_pairs(
            d, threshold=0.8, n=3
        ).count(),
        "simhash": lambda d: simhash_pairs(
            d, max_hamming=3, n=3
        ).count(),
        "cc_clusters": lambda d: connected_components(
            ngram_jaccard_pairs(
                d, threshold=0.8, n=3, ordered=False
            ).select("a", "b")
        ).count(),
        "entropy": lambda d: (
            d.select(
                "doc_id",
                F.explode_outer(
                    F.filter(F.split("text", r"\s+"), lambda x: x != "")
                ).alias("word"),
            )
            .where(F.col("word").isNotNull())
            .groupBy("doc_id", "word")
            .agg(F.count("*").alias("c"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n"))
            .count()
        ),
    }

    for op in ops.values():  # warm JIT/codegen on the smallest scale
        op(docs(1))

    results = {}
    for mult in MULTS:
        d = docs(mult)
        for name, op in ops.items():
            w = best3(lambda: op(d))
            results[(name, mult)] = w
            print(f"x{mult:<2} {name:<16} {w:7.3f}s", flush=True)

    print("\nscaling factors (time_xN / time_x1, ideal linear = N):")
    for name in ops:
        t1 = results[(name, 1)]
        row = "  ".join(
            f"x{m}:{results[(name, m)] / t1:5.2f}" for m in MULTS[1:]
        )
        print(f"{name:<16} {row}")


if __name__ == "__main__":
    main()
