#!/usr/bin/env python
"""ANN probe-distance fold A/B at sf1 (VERDICT r15 #6): would the
q30-style einsum Arrow kernel beat the JVM aggregate(zip_with()) fold
on the IVF/LSH candidate-pair streams at data scale?  The declared
shapes' candidate counts (q66: |q| x |corpus| x n_probe/n_cells = 5 x
20k x 4/16 = 25k pairs at sf1; q40: bucket-limited, ~3-4k) sit BELOW
the measured 50k crossover (similarity.VEC_CROSSOVER_PAIRS), so the
expectation is the fold wins — this probe turns that expectation into
a committed number instead of an inference.  Variants alternate in
one session; top-1/rank-set equality is asserted once.

Usage: python tools/probe_ann_fold_sf1.py [sf1_dir] [n_rounds]
Writes PROBE_ANN_FOLD_SF1_r16.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

# module-level so pandas_udf's get_type_hints can resolve the
# annotations against func.__globals__ (a nested import lands in the
# enclosing function's locals, which the hint resolver never sees)
import pandas as pd  # noqa: F401

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.derived/sf1"
    n_rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mandoline_spark.functions import similarity as S
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("ann_fold_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    sc = spark.sparkContext

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = e.filter(F.col("vec_id") < 5)

    def run(df) -> None:
        df.select("*")._jdf.queryExecution().toRdd().count()

    # ---- IVF: shared front (training + cell assignment + probe join),
    # sim computed by (a) the JVM fold, (b) the einsum Arrow kernel.
    centers = S._train_centroids(e, 16, 42, "vec_id", "embedding")

    def ivf_pairs():
        """Candidate pairs exactly as ivf_topk builds them."""
        from pyspark.sql.functions import pandas_udf
        import pandas as pd

        C = np.array(centers, dtype=np.float64)
        Csq = (C * C).sum(axis=1)

        @pandas_udf("array<int>")
        def cell_ranking(v: pd.Series) -> pd.Series:
            valid = v.notna().to_numpy()
            out = np.zeros(len(v), dtype=object)
            out[~valid] = None
            if valid.any():
                m = np.stack(v.to_numpy()[valid]).astype(np.float64)
                nrm = np.linalg.norm(m, axis=1, keepdims=True)
                nrm[nrm == 0] = 1.0
                dmat = Csq[None, :] - 2.0 * ((m / nrm) @ C.T)
                idx = np.argsort(dmat, axis=1, kind="stable")
                for pos, ranking in zip(
                    np.flatnonzero(valid), idx.astype(np.int32)
                ):
                    out[pos] = ranking
            return pd.Series(out)

        assigned = e.withColumn(
            "_cell", F.get(cell_ranking(F.col("embedding")), 0)
        )
        probes = q.select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("_qvec"),
            F.explode(F.slice(cell_ranking(F.col("embedding")), 1, 4)).alias(
                "_cell"
            ),
        )
        return assigned, probes

    def ivf_fold():
        assigned, probes = ivf_pairs()
        qn = S.with_norm(
            probes.withColumnRenamed("_qvec", "embedding"), "embedding"
        ).select(
            "qid", "_cell", F.col("_emb").alias("_qemb"),
            F.col("_norm").alias("_qnorm"),
        )
        cn = S.with_norm(assigned, "embedding").select(
            F.col("vec_id"), "_cell", F.col("_emb"), F.col("_norm")
        )
        sim = F.when(
            (F.col("_qnorm") > 0) & (F.col("_norm") > 0),
            S._dot("_qemb", "_emb") / (F.col("_qnorm") * F.col("_norm")),
        ).otherwise(F.lit(0.0))
        return cn.join(F.broadcast(qn), "_cell").withColumn("_sim", sim)

    def ivf_einsum():
        assigned, probes = ivf_pairs()
        qn = probes.select(
            "qid", "_cell", F.col("_qvec").alias("_qemb")
        )
        cn = assigned.select(F.col("vec_id"), "_cell", "embedding")
        pairs = cn.join(F.broadcast(qn), "_cell")
        return pairs.withColumn(
            "_sim", S._cosine_batch_udf("_qemb", "embedding")
        )

    def topk(pairs):
        w = Window.partitionBy("qid").orderBy(
            F.col("_sim").desc(),
            (F.col("vec_id") == F.col("qid")).desc(),
            F.col("vec_id"),
        )
        return (
            pairs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 1)
            .select("qid", "vec_id", F.round("_sim", 6).alias("sim"))
            .repartition(1)
            .sortWithinPartitions("qid")
        )

    # rank equality (top-1 ids; sims may differ in last ulps)
    a = [(r.qid, r.vec_id) for r in topk(ivf_fold()).collect()]
    b = [(r.qid, r.vec_id) for r in topk(ivf_einsum()).collect()]
    assert a == b, (a, b)
    n_pairs = ivf_fold().count()
    print(f"ivf top-1 identical ({a}); candidate pairs = {n_pairs}")

    tracker = sc.statusTracker()
    out: dict = {"sf_dir": sf_dir, "n_rounds": n_rounds,
                 "ivf_candidate_pairs": n_pairs,
                 "crossover_pairs": S.VEC_CROSSOVER_PAIRS}
    res: dict = {"fold": {"runs": []}, "einsum": {"runs": []}}
    for _ in range(n_rounds):
        for label, builder in (("fold", ivf_fold), ("einsum", ivf_einsum)):
            t0 = time.perf_counter()
            run(topk(builder()))
            res[label]["runs"].append(round(time.perf_counter() - t0, 4))
    for label in res:
        res[label]["best"] = min(res[label]["runs"])
        res[label]["median"] = sorted(res[label]["runs"])[n_rounds // 2]
    out["ivf"] = res
    print("ivf", json.dumps(res), flush=True)

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PROBE_ANN_FOLD_SF1_r16.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
