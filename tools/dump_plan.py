#!/usr/bin/env python
"""Dump .explain('formatted') for named declared queries to files.

Usage: python tools/dump_plan.py OUT_DIR SUFFIX q37_ngram_jaccard [...]
Writes OUT_DIR/<query>_<SUFFIX>.txt for each query (sf0.1 single-file
layout — the plan SHAPE is layout-independent; the bench's mf16 only
changes scan split counts).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mandoline_spark.queries import QUERIES
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("dump_plan")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print("wrote", path)


if __name__ == "__main__":
    main()
