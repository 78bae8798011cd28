"""Approximate nearest-neighbor paths: IVF (k-means coarse quantizer)
and LSH bucketing, against the exact brute-force baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mandoline_spark.functions.similarity import (
    cosine_topk,
    cosine_topk_lsh,
    ivf_topk,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_ivf_exhaustive_probe_equals_exact(emb):
    """n_probe == n_cells probes every cell → must equal the exact
    top-k bit for bit (the recall knob reaches 1)."""
    q = emb.filter(F.col("vec_id") < 10)
    exact = [tuple(r) for r in cosine_topk(q, emb, k=5).collect()]
    ivf = [
        tuple(r)
        for r in ivf_topk(q, emb, k=5, n_cells=8, n_probe=8).collect()
    ]
    assert ivf == exact


def test_ivf_partial_probe_recall(emb):
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["qid"], r["vec_id"])
        for r in cosine_topk(q, emb, k=5).collect()
    }
    approx = {
        (r["qid"], r["vec_id"])
        for r in ivf_topk(q, emb, k=5, n_cells=8, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    # the query itself always lands in its own probed cell
    assert all((i, i) in approx for i in range(20))


def test_lsh_topk_self_hit(emb):
    q = emb.filter(F.col("vec_id") < 10)
    top1 = cosine_topk_lsh(q, emb, k=1, n_planes=8)
    got = {(r["qid"], r["vec_id"]) for r in top1.collect()}
    assert got == {(i, i) for i in range(10)}


def test_lsh_multiprobe_improves_recall_monotonically(emb):
    """Multi-probe LSH (n_probe_bits) widens the candidate set to the
    query's Hamming-neighborhood of buckets, so recall@1 vs the exact
    answer is monotone in the knob and still exact-within-candidates
    (the r10 recall measurement that motivated the knob is in
    BASELINE.md).  Also pins the probe-set algebra: bit-2 probing with
    n_planes planes subsumes every bit-1 candidate."""
    q = emb.filter(F.col("vec_id") < 30)
    exact = {
        r["qid"]: r["vec_id"]
        for r in cosine_topk(q, emb, k=1).collect()
    }

    def recall(bits: int) -> float:
        got = {
            r["qid"]: r["vec_id"]
            for r in cosine_topk_lsh(
                q, emb, k=1, n_planes=12, n_probe_bits=bits
            ).collect()
        }
        return sum(
            got.get(k) == v for k, v in exact.items()
        ) / len(exact)

    r0, r1, r2 = recall(0), recall(1), recall(2)
    assert r0 <= r1 <= r2, (r0, r1, r2)
    # in-corpus queries: self always probed (mask 0 kept), so every
    # query still returns a row at every knob setting
    assert r2 >= r1 >= 0

    # the DEFAULT path is the recall-safe one (r11: default flipped
    # 0 → 1 after the r10 probe labeled single-bucket top-1 unsafe at
    # 0.43-0.83 recall@1): a caller passing no knob gets exactly the
    # 1-bit probe set
    got_default = {
        r["qid"]: r["vec_id"]
        for r in cosine_topk_lsh(q, emb, k=1, n_planes=12).collect()
    }
    got_1bit = {
        r["qid"]: r["vec_id"]
        for r in cosine_topk_lsh(
            q, emb, k=1, n_planes=12, n_probe_bits=1
        ).collect()
    }
    assert got_default == got_1bit

    # guard: the fan-out cap is enforced
    with pytest.raises(ValueError):
        cosine_topk_lsh(q, emb, n_probe_bits=3)


def test_lsh_null_embedding_gets_null_bucket(spark):
    """A NULL embedding must not fail the Arrow batch — it gets a NULL
    bucket and drops out of the bucket-equi join (ADVICE r02)."""
    from mandoline_spark.functions.similarity import lsh_bucket

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r.bucket for r in lsh_bucket(df, 4).collect()}
    assert rows[2] is None
    assert rows[1] is not None and rows[3] is not None


def test_lsh_rejects_overflowing_n_planes(spark):
    from mandoline_spark.functions.similarity import lsh_bucket

    df = spark.createDataFrame(
        [(1, [1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="n_planes"):
        lsh_bucket(df, 63)


def test_ivf_empty_corpus_raises_cleanly(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="non-null embeddings"):
        ivf_topk(df, df, k=1)


def test_ivf_null_embeddings_drop_out(emb, spark):
    """NULL corpus embeddings get no cell; NULL queries emit no probes;
    everything else is unaffected."""
    nulls = spark.createDataFrame(
        [(10_000, None)], "vec_id long, embedding array<double>"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(nulls)
    q = corpus.filter((F.col("vec_id") < 5) | (F.col("vec_id") == 10_000))
    got = {(r["qid"], r["vec_id"]) for r in
           ivf_topk(q, corpus, k=1, n_cells=8, n_probe=8).collect()}
    assert got == {(i, i) for i in range(5)}


def test_ann_top1_prefers_self_over_exact_duplicate(emb, spark):
    """An exact duplicate of the query with a LOWER id must not steal
    the top-1 slot: the re-rank tie-break prefers the query row itself
    (ADVICE r02 — previously held only because the fixture had no
    duplicates)."""
    dup_of_5 = emb.filter(F.col("vec_id") == 5).select(
        F.lit(-1).cast("long").alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup_of_5)
    q = corpus.filter(F.col("vec_id") == 5)
    for fn, kw in (
        (ivf_topk, dict(n_cells=8, n_probe=8)),
        (cosine_topk_lsh, dict(n_planes=8)),
    ):
        top = fn(q, corpus, k=1, **kw).collect()
        assert [(r["qid"], r["vec_id"]) for r in top] == [(5, 5)], fn.__name__


def test_vectorized_cosine_parity_with_jvm_fold(spark, emb):
    """The einsum kernel, reached with a pair-count hint at the
    crossover, must agree with the JVM aggregate-fold below it — same
    (qid, id) rank sets, sims bit-approximate (einsum's summation order
    differs from the sequential fold, so agreement is to FP
    association, not bits; the operator docstring says so).  NULL and
    zero-norm rows are part of the contract: both paths yield sim 0.0
    for them."""
    from mandoline_spark.functions.similarity import VEC_CROSSOVER_PAIRS
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    dim = len(emb.select("embedding").first()[0])
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", LongType()),
        ]
    )
    crafted = spark.createDataFrame(
        [
            (10_001, None, 0),               # NULL vector
            (10_002, [0.0] * dim, 0),        # zero norm
        ],
        schema,
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(
        crafted
    )
    q = corpus.filter(
        (F.col("vec_id") < 3) | (F.col("vec_id") > 10_000)
    )
    # round_to=None: compare the raw doubles with a tolerance instead
    # of betting a rounded value never straddles a boundary
    jvm = cosine_topk(q, corpus, k=5, round_to=None).collect()
    vec = cosine_topk(
        q, corpus, k=5, round_to=None, pair_count_hint=VEC_CROSSOVER_PAIRS
    ).collect()
    assert [(r.qid, r.vec_id) for r in jvm] == [
        (r.qid, r.vec_id) for r in vec
    ]
    for a, b in zip(jvm, vec):
        assert abs(a.sim - b.sim) <= 1e-12, (a, b)
    # the crafted NULL/zero-norm queries match nothing meaningfully:
    # every pair sim is exactly 0.0 on both paths
    for rows in (jvm, vec):
        degenerate = [r for r in rows if r.qid > 10_000]
        assert degenerate and all(r.sim == 0.0 for r in degenerate)


def test_vectorized_auto_gate_from_pair_count_hint(spark, emb):
    """cosine_topk's kernel choice follows a catalog-stats pair-count
    hint — JVM fold below the measured crossover (where the Arrow
    round-trip's fixed cost regressed sf0.1) and with no hint, einsum
    at/above it (where it won at sf1).  Pinned by plan inspection: the
    einsum path contains an Arrow Python UDF eval node, the JVM path
    none."""
    from mandoline_spark.functions.similarity import (
        VEC_CROSSOVER_PAIRS,
        cosine_topk,
    )

    q = emb.filter(F.col("vec_id") < 3)

    def has_python_udf(df) -> bool:
        return "pythonUDF" in df._jdf.queryExecution().executedPlan().toString() or (
            "ArrowEvalPython"
            in df._jdf.queryExecution().executedPlan().toString()
        )

    below = cosine_topk(q, emb, k=3, pair_count_hint=VEC_CROSSOVER_PAIRS - 1)
    at = cosine_topk(q, emb, k=3, pair_count_hint=VEC_CROSSOVER_PAIRS)
    none = cosine_topk(q, emb, k=3)  # no hint -> JVM fold
    assert not has_python_udf(below)
    assert has_python_udf(at)
    assert not has_python_udf(none)
    # and the gated kernels agree on the fixture (rank-set equality —
    # the deeper parity contract is the dedicated test above)
    assert [(r.qid, r.vec_id) for r in at.collect()] == [
        (r.qid, r.vec_id) for r in below.collect()
    ]


def _has_jvm_fold(df) -> bool:
    """The per-pair JVM dot fold is the aggregate(zip_with(...)) HOF;
    its presence/absence distinguishes the two sim kernels (both ANN
    pipelines carry OTHER Arrow UDFs — cell_ranking / lsh_bucket — so
    'any python node' cannot)."""
    return "aggregate(zip_with" in (
        df._jdf.queryExecution().executedPlan().toString()
    )


def _crafted_corpus(spark, emb):
    """Fixture corpus + a NULL vector and a zero-norm vector (the
    degenerate rows both kernels must agree on)."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    dim = len(emb.select("embedding").first()[0])
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    crafted = spark.createDataFrame(
        [(10_001, None), (10_002, [0.0] * dim)], schema
    )
    return emb.select("vec_id", "embedding").unionByName(crafted)


def test_ivf_vectorized_default_and_override(spark, emb):
    """ivf_topk re-ranks with the einsum Arrow batch at every scale —
    the pipeline already crosses the Python boundary for cell_ranking,
    and the einsum measured faster than the JVM fold at BOTH probed
    pair counts (2.5k and 25k, PROBE_ANN_FOLD_SF1_r16.json).  At
    n_probe == n_cells it must agree with cosine_topk, whose kernel
    below the 50k-pair crossover is that JVM fold: the same ranks,
    sims to FP association, and 0.0 sims for the zero-norm query on
    both (the kernel's mask matches the fold's .otherwise(0.0)).  The
    degenerate queries' all-zero ties are broken differently (ivf_topk
    puts the query's own id first), and a NULL query vector probes no
    cell, so ranks are compared on the real queries."""
    corpus = _crafted_corpus(spark, emb)
    q = corpus.filter(
        (F.col("vec_id") < 3) | (F.col("vec_id") > 10_000)
    )
    kw = dict(k=5, round_to=None)
    ivf = ivf_topk(q, corpus, n_cells=8, n_probe=8, **kw)
    fold = cosine_topk(q, corpus, **kw)
    assert not _has_jvm_fold(ivf)
    assert _has_jvm_fold(fold)
    a, b = ivf.collect(), fold.collect()
    real_a, real_b = ([r for r in rows if r.qid < 10_000] for rows in (a, b))
    assert real_a and [(r.qid, r.vec_id) for r in real_a] == [
        (r.qid, r.vec_id) for r in real_b
    ]
    for ra, rb in zip(real_a, real_b):
        assert abs(ra.sim - rb.sim) <= 1e-12, (ra, rb)
    degenerate = [r for r in a if r.qid > 10_000]
    assert degenerate and all(r.sim == 0.0 for r in degenerate)
    assert {r.qid for r in degenerate} == {10_002}
    assert all(r.sim == 0.0 for r in b if r.qid > 10_000)


def test_cosine_pairs_unblocked_matches_numpy(spark, emb):
    """The unblocked cosine_pairs (the JVM expression join) against a
    numpy reference over the same rows: every a < b pair of non-NULL,
    non-zero-norm vectors with cosine ≥ threshold, with its sim.  A NULL
    or zero-norm row pairs with nothing: its sim is NULL, and NULL ≥ t
    is not true even at t = -1."""
    import itertools

    import numpy as np

    from mandoline_spark.functions.similarity import cosine_pairs

    corpus = _crafted_corpus(spark, emb).filter(
        (F.col("vec_id") < 40) | (F.col("vec_id") > 10_000)
    )
    rows = corpus.collect()
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in rows
        if r.embedding is not None and np.linalg.norm(r.embedding) > 0
    }
    assert len(vecs) == len(rows) - 2
    for t in (-1.0, 0.1):
        want = {}
        for a, b in itertools.combinations(sorted(vecs), 2):
            va, vb = vecs[a], vecs[b]
            sim = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
            if sim >= t:
                want[(a, b)] = sim
        got = {
            (r.a, r.b): r.sim
            for r in cosine_pairs(corpus, threshold=t, round_to=None).collect()
        }
        assert want and set(got) == set(want), t
        for pair, sim in got.items():
            assert abs(sim - want[pair]) <= 1e-12, (pair, sim, want[pair])
