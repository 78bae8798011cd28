"""Embedding similarity search: brute-force cosine top-k (exact baseline)
and an LSH-bucketed approximate variant (the scale path).

All the arithmetic is JVM-side (`F.zip_with`/`F.aggregate` — no Python
in the hot loop).  Norms are computed once per row *before* the pair
join, so the cross product only does one fused dot-product per pair.
The query side is broadcast: at 100 TB the corpus never shuffles — each
executor streams its partition of the corpus past the (small) query set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# SQL-fragment builders over column NAMES, parsed once per call site —
# each nested pyspark HOF call is a py4j round-trip at plan-build time
# (see dedup.gram_array); the Catalyst trees are identical.


def _as_double_sql(col: str) -> str:
    return f"transform(`{col}`, x -> cast(x AS double))"


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> x * y), 0.0D,"
        f" (acc, x) -> acc + x)"
    )


def _norm_sql(col_sql: str) -> str:
    return (
        f"sqrt(aggregate(transform({col_sql}, x -> x * x), 0.0D,"
        f" (acc, x) -> acc + x))"
    )


def _cosine_batch_udf(a, b):
    """Vectorized cosine over two vector columns: one numpy einsum per
    Arrow batch.  NULL rows and zero-norm rows yield 0.0 (the guarded
    expression form's value).  Assumes uniform vector length within a
    batch (the embedding-table contract); built lazily so importing
    this module never requires an active session."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(sa: pd.Series, sb: pd.Series) -> pd.Series:
        mask = sa.notna() & sb.notna()
        if not mask.any():
            return pd.Series(np.zeros(len(sa)))
        dim = len(sa[mask].iloc[0])
        zero = np.zeros(dim)
        ma = np.stack([v if v is not None else zero for v in sa]).astype(
            np.float64
        )
        mb = np.stack([v if v is not None else zero for v in sb]).astype(
            np.float64
        )
        num = np.einsum("ij,ij->i", ma, mb)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den > 0, num / den, 0.0)
        return pd.Series(out)

    return _cos(a, b)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add `_emb` (double vector) and `_norm` columns, computed once.
    Two projections on purpose: `_norm` reads the MATERIALIZED `_emb`
    attribute — inlining the cast into the norm aggregate would
    re-evaluate it per element (HOFs are CodegenFallback)."""
    return df.selectExpr(
        "*", f"{_as_double_sql(vec_col)} AS _emb"
    ).selectExpr("*", f"{_norm_sql('_emb')} AS _norm")


# Measured vectorized-kernel crossover in PAIRS (|queries|x|corpus|),
# r13/r15: the Arrow round-trip's fixed ~0.4-0.5 s dominated 10k pairs
# (5 x 2k corpus regressed 0.26->0.68 s at sf0.1) while the einsum
# kernel won 27% at 100k pairs (5 x 20k at sf1).  50k sits between the
# two measured points on the conservative side: the gate only flips
# where the win is established, never where the regression was.
VEC_CROSSOVER_PAIRS = 50_000


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    pair_count_hint: int | None = None,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows for each ``queries`` row.

    Returns (qid, <id_col>, sim) with per-query rank ≤ k, ties broken by
    id.  Broadcast-join shape: O(|corpus|) work per query, no corpus
    shuffle except the final per-query top-k (tiny).

    ``pair_count_hint`` (|queries| x |corpus|, e.g. from parquet-footer
    catalog stats the way osort's gate reads them) picks the per-pair
    cosine kernel: at or above :data:`VEC_CROSSOVER_PAIRS` a
    numpy-einsum Arrow-batched pandas_udf, otherwise (or with no hint:
    the operator cannot see the pair count without spending a job) the
    JVM aggregate(zip_with()) fold.  The crossover is measured
    (BASELINE.md r13): HOFs are CodegenFallback (interpreted per
    ELEMENT), so the einsum kernel won 27% on a 20k-vector corpus —
    but the Python-worker round trip costs a fixed ~0.4-0.5 s that
    DOMINATES small pair counts (2k vectors x 5 queries regressed
    0.26→0.68 s in two full-bench windows).  Sims are bit-approximate
    across the kernels (einsum's summation order differs from the
    sequential fold), so a ``round_to``/rank decision near a boundary
    can diverge; NULL/zero-norm rows yield 0.0 on both."""
    if pair_count_hint is not None and pair_count_hint >= VEC_CROSSOVER_PAIRS:
        q = queries.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("_qemb"),
        )
        c = corpus.select(F.col(id_col), F.col(vec_col).alias("_emb"))
        pairs = c.crossJoin(F.broadcast(q)).withColumn(
            "_sim", _cosine_batch_udf("_qemb", "_emb")
        )
    else:
        q = with_norm(queries, vec_col).select(
            F.col(id_col).alias("qid"),
            F.col("_emb").alias("_qemb"),
            F.col("_norm").alias("_qnorm"),
        )
        c = with_norm(corpus, vec_col).select(
            F.col(id_col), F.col("_emb"), F.col("_norm")
        )
        sim = F.when(
            (F.col("_qnorm") > 0) & (F.col("_norm") > 0),
            _dot("_qemb", "_emb")
            / (F.col("_qnorm") * F.col("_norm")),
        ).otherwise(F.lit(0.0))
        pairs = c.crossJoin(F.broadcast(q)).withColumn("_sim", sim)
    w = Window.partitionBy("qid").orderBy(
        F.col("_sim").desc(), F.col(id_col)
    )
    out = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            "qid",
            id_col,
            (
                F.round("_sim", round_to) if round_to is not None else F.col("_sim")
            ).alias("sim"),
        )
    )
    # |queries|*k bounded output — gather-sort, not a range sort
    return out.repartition(1).sortWithinPartitions(
        "qid", F.col("sim").desc(), id_col
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """All (a, b) id pairs with cosine similarity ≥ threshold
    (embedding near-dup detection).  ``block_col`` restricts candidate
    pairs to equal blocking keys — the way the O(n²) cross product is
    tamed at scale (block by coarse LSH bucket, label, shard, ...).

    Blocked path: one Arrow batch per block into a numpy/BLAS cosine
    matrix (``applyInPandas``) — each block is one task, pairs never hit
    the shuffle as rows, and the kernel is vectorized instead of a
    per-pair interpreted fold (measured ~10x over the expression form).

    Unblocked path: a JVM expression join (no driver-size assumption
    about the corpus fitting one task) with the per-pair dot fold; a
    NULL or zero-norm row has a NULL sim and pairs with nothing."""
    if block_col is not None:
        return _cosine_pairs_blas(
            df, threshold, block_col, id_col, vec_col, round_to
        )
    a = with_norm(df, vec_col).select(
        F.col(id_col).alias("a"),
        F.col("_emb").alias("_aemb"),
        F.col("_norm").alias("_anorm"),
    )
    b = with_norm(df, vec_col).select(
        F.col(id_col).alias("b"),
        F.col("_emb").alias("_bemb"),
        F.col("_norm").alias("_bnorm"),
    )
    joined = a.join(b, F.col("a") < F.col("b"))
    # zero-norm guard: 0/0 is NaN, and Spark's nan-safe comparison
    # ranks NaN ABOVE the threshold — without the guard a single
    # all-zero embedding pairs with the whole corpus (the BLAS path
    # drops them; numpy NaN compares False)
    denom = F.col("_anorm") * F.col("_bnorm")
    sim = F.when(denom > 0, _dot("_aemb", "_bemb") / denom)
    out = joined.withColumn("_sim", sim).filter(F.col("_sim") >= threshold)
    return (
        out.select(
            "a",
            "b",
            (
                F.round("_sim", round_to)
                if round_to is not None
                else F.col("_sim")
            ).alias("sim"),
        )
        # threshold-bounded presentation output — gather-sort (psort)
        .repartition(1)
        .sortWithinPartitions("a", "b")
    )


def _cosine_pairs_blas(
    df: DataFrame,
    threshold: float,
    block_col: str,
    id_col: str,
    vec_col: str,
    round_to: int | None,
) -> DataFrame:
    """Per-block cosine matrix in numpy: upper-triangle pairs ≥ threshold."""
    import numpy as np
    import pandas as pd

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        # NULL embeddings drop out (np.stack would fail on None; the
        # unblocked path and lsh_bucket tolerate them the same way)
        pdf = pdf[pdf[vec_col].notna()].sort_values(id_col)
        if len(pdf) < 2:
            return pd.DataFrame({"a": [], "b": [], "sim": []})
        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = mn @ mn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        vals = sims[iu, ju]
        keep = vals >= threshold  # NaN (zero-norm rows) compares False
        vals = vals[keep]
        if round_to is not None:
            # SQL round: half away from zero (vals ≥ threshold > 0 here
            # when threshold > 0, but stay sign-correct regardless)
            scale = 10.0 ** round_to
            vals = np.sign(vals) * np.floor(np.abs(vals) * scale + 0.5) / scale
        return pd.DataFrame(
            {"a": ids[iu[keep]], "b": ids[ju[keep]], "sim": vals}
        )

    # the pair schema carries the CALLER's id type (a hardcoded long
    # would mangle string doc ids through the Arrow conversion)
    id_type = df.schema[id_col].dataType.simpleString()
    out = df.groupBy(block_col).applyInPandas(
        per_block, f"a {id_type}, b {id_type}, sim double"
    )
    # threshold-bounded presentation output: gather-sort on one
    # partition instead of a global orderBy's range-sampling pass
    # (same rationale and order contract as psort/queries.py)
    return out.repartition(1).sortWithinPartitions("a", "b")


def lsh_bucket(
    df: DataFrame,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket id (sign pattern of ``n_planes``
    projections, packed into a long) — the blocking key for approximate
    cosine search.  One Arrow-batched numpy projection (X·Pᵀ ≥ 0): the
    planes are a deterministic function of (seed, dim) derived INSIDE
    the executor from the batch's own width, so there is no driver-side
    dim-probe job and no per-plane interpreted fold (the previous shape
    paid one collect() plus n_planes expression folds per row).

    NULL embeddings get a NULL bucket (the old expression form's
    behavior — they drop out of any bucket-equi join instead of failing
    the batch's np.stack)."""
    from pyspark.sql.functions import pandas_udf

    if not 0 < n_planes < 63:
        # 1 << 63 overflows int64: the top weight would collide with
        # the sign bit and distinct sign patterns would share buckets
        raise ValueError(f"n_planes must be in [1, 62], got {n_planes}")
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("long")
    def bucket(v: pd.Series) -> pd.Series:
        valid = v.notna().to_numpy()
        out = np.zeros(len(v), dtype=object)
        out[~valid] = None
        if valid.any():
            m = np.stack(v.to_numpy()[valid]).astype(np.float64)
            planes = np.random.default_rng(seed).standard_normal(
                (n_planes, m.shape[1])
            )
            bits = (m @ planes.T) >= 0
            out[valid] = bits @ weights
        return pd.Series(out)

    return df.withColumn("bucket", bucket(F.col(vec_col)))


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe_bits: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to the query's
    LSH bucket(s), then exact re-rank.  Trades recall for a bucket-equi
    join instead of a full cross product (the 100 TB shape).

    The re-rank is the JVM dot fold under a NULL-propagating guard:
    zero-norm rows keep sim NULL and lose every rank.  The candidate
    stream is |queries| × probe buckets × |corpus| / 2^n_planes (the
    declared q40: 351 pairs at sf0.1, 3,515 at sf1), far below
    :data:`VEC_CROSSOVER_PAIRS`, where :func:`cosine_topk`'s einsum
    kernel starts to win.

    ``n_probe_bits`` controls MULTI-PROBE (Lv et al., VLDB'07 shape):
    each query also probes every bucket within that Hamming distance
    of its own.  The DEFAULT is 1 (r11, was 0): the r10 recall
    measurement (BASELINE.md "ANN recall curves") showed single-bucket
    probing is recall-unsafe as a top-1 index (0.43–0.83 recall@1),
    because a neighbor on the far side of ONE hyperplane lands in a
    sibling bucket — 1 probe bit measured 0.79–0.88 recall@1 at ~2×
    the candidate cost, 2 bits 0.93–0.98, with NO decay from 20k to
    200k vectors.  Pass 0 explicitly for the cheapest single-bucket
    screen (fine for near-dup GATING, where misses only admit a few
    duplicates — functions/dedup.py uses banded signatures instead).
    The probe set explodes on the QUERY side only
    (sum_{i<=b} C(n_planes, i) rows per query — the small, broadcast
    side); the corpus keeps one bucket per vector and never reshuffles,
    so the knob scales probe cost with queries, not corpus."""
    if n_probe_bits < 0 or n_probe_bits > 2:
        # C(62, 3)+ probe fan-out stops being a "probe" — use IVF
        raise ValueError(
            f"n_probe_bits must be 0, 1, or 2: {n_probe_bits}"
        )
    masks = [0]
    if n_probe_bits >= 1:
        masks += [1 << i for i in range(n_planes)]
    if n_probe_bits >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    # norm BEFORE the probe explode: _norm is an aggregate over the
    # embedding array, and exploding first would re-evaluate it once
    # per probe row (79x per query at 12 planes / 2 bits — r10 review)
    qb = with_norm(lsh_bucket(queries, n_planes, seed, vec_col), vec_col)
    if len(masks) > 1:
        qb = qb.withColumn(
            "bucket",
            F.explode(
                F.array(
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(m))
                        for m in masks
                    ]
                )
            ),
        )
    cb = lsh_bucket(corpus, n_planes, seed, vec_col)
    q = qb.select(
        F.col(id_col).alias("qid"),
        F.col("bucket"),
        F.col("_emb").alias("_qemb"),
        F.col("_norm").alias("_qnorm"),
    )
    c = with_norm(cb, vec_col).select(
        F.col(id_col), F.col("bucket"), F.col("_emb"), F.col("_norm")
    )
    # zero-norm guard (same as cosine_topk/ivf_topk): NaN sims sort
    # FIRST under desc ordering, so one zero vector in a bucket would
    # displace every true top-1 there
    _denom = F.col("_qnorm") * F.col("_norm")
    _sim = F.when(_denom > 0, _dot("_qemb", "_emb") / _denom)
    pairs = c.join(F.broadcast(q), "bucket").withColumn("_sim", _sim)
    # sim ties break to the query itself first, then lower id: an
    # in-corpus query's top-1 is itself even when the corpus contains
    # an exact duplicate with a lower id (ADVICE r02 — previously a
    # fixture property, now structural)
    w = Window.partitionBy("qid").orderBy(
        F.col("_sim").desc(),
        (F.col(id_col) == F.col("qid")).desc(),
        F.col(id_col),
    )
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("qid", id_col, F.round("_sim", 6).alias("sim"))
        # |queries|*k bounded output — gather-sort, not a range sort
        .repartition(1)
        .sortWithinPartitions("qid", F.col("sim").desc(), id_col)
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 4096,
) -> list[list[float]]:
    """Train the IVF coarse quantizer once and reuse it: pass the
    returned centroids to :func:`ivf_topk(..., centroids=...)` for
    every search over the same corpus.  One bounded-sample corpus scan
    (see :func:`_train_centroids`); the result is a plain list literal
    — driver-held index state, broadcast into each search's column
    expressions."""
    return _train_centroids(corpus, n_cells, seed, id_col, vec_col, train_rows)


def _train_centroids(
    corpus: DataFrame,
    n_cells: int,
    seed: int,
    id_col: str,
    vec_col: str,
    train_rows: int = 4096,
) -> list[list[float]]:
    """Coarse-quantizer centroids: numpy Lloyd's on a DETERMINISTIC
    driver-side sample (rows with the smallest xxhash64(id) — a seeded
    uniform sample that every rerun reproduces).  This is standard IVF
    practice at any scale: the quantizer trains on a bounded sample
    (the topK-by-hash scan is one corpus pass), the full corpus only
    ever sees the broadcast centroids.  An MLlib KMeans fit would run
    dozens of tiny distributed jobs to cluster a few thousand sampled
    rows — measured 6-10s of pure scheduling for a 2k-vector corpus."""
    import numpy as np

    sample = (
        corpus.select(
            F.col(vec_col).alias("v"),
            F.xxhash64(F.col(id_col).cast("string")).alias("_h"),
        )
        .where(F.col("v").isNotNull())
        .orderBy("_h")
        .limit(train_rows)
        .collect()
    )
    if not sample:
        raise ValueError(
            "ivf_topk: corpus has no non-null embeddings to train the "
            "coarse quantizer on"
        )
    m = np.array([r.v for r in sample], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    m = m / norms
    rng = np.random.default_rng(seed)
    # kmeans++ seeding, then a fixed number of Lloyd iterations —
    # microseconds at sample scale
    idx = [int(rng.integers(len(m)))]
    for _ in range(min(n_cells, len(m)) - 1):
        d2 = (
            ((m[:, None, :] - m[idx][None, :, :]) ** 2).sum(-1).min(axis=1)
        )
        total = d2.sum()
        if total > 0:
            idx.append(int(rng.choice(len(m), p=d2 / total)))
        else:
            idx.append(int(rng.integers(len(m))))
    cent = m[idx].copy()
    for _ in range(10):
        d2 = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(axis=1)
        for j in range(len(cent)):
            pts = m[assign == j]
            if len(pts):
                cent[j] = pts.mean(axis=0)
    return [[float(x) for x in c] for c in cent]


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate cosine top-k: a k-means coarse
    quantizer partitions the corpus into ``n_cells`` cells; each query
    probes its ``n_probe`` nearest cells and exactly re-ranks only those
    candidates.

    Candidates are re-ranked by the numpy-einsum Arrow batch
    (:func:`_cosine_batch_udf`) at every scale, unlike
    :func:`cosine_topk`'s gate: this pipeline already crosses the
    Python boundary for ``cell_ranking``, so the Arrow round-trip's
    fixed cost — the whole reason cosine_topk stays on the JVM fold
    below 50k pairs — is already paid.  Measured (r16,
    PROBE_ANN_FOLD_SF1_r16.json): einsum beat the JVM fold at BOTH
    probed scale points, 2.5k candidate pairs (sf0.1: 1.41 vs 1.87 s
    best) and 25k (sf1: 0.91 vs 1.23 s best).  NULL/zero-norm vectors
    yield 0.0 sims, as cosine_topk's fold does.

    ``centroids`` (from :func:`train_ivf_centroids`) skips the training
    scan: an IVF quantizer is INDEX state, trained once per corpus and
    reused across every search — retraining per query would be like
    rebuilding a B-tree per lookup.  When omitted, training runs inline
    (one bounded-sample corpus pass), the right default for one-shot
    calls.

    The 100 TB shape: the quantizer trains on a bounded driver-side
    sample (see :func:`_train_centroids`); the corpus is scanned once to
    assign cells from BROADCAST centroid literals (a pure JVM column
    expression — cell id becomes a partition/cluster key); queries join
    on cell id — work per query is O(|corpus| * n_probe / n_cells)
    instead of O(|corpus|).  With ``n_probe == n_cells`` the search is
    exhaustive and equals :func:`cosine_topk` exactly (the recall knob
    goes to 1).

    Assignment and probing rank cells with the IDENTICAL expression
    (squared euclidean on unit vectors: |c|² - 2·x·c, ties to lower
    cell id), so a corpus vector used as a query always probes its own
    assigned cell first — approximate top-1 of an in-corpus query is
    exact by construction.
    """
    centers = (
        centroids
        if centroids is not None
        else _train_centroids(corpus, n_cells, seed, id_col, vec_col)
    )

    # Cell ranking as ONE Arrow-batched numpy kernel (Csq - 2·X·Cᵀ,
    # stable argsort) shared by corpus assignment (element 0) and query
    # probing (first n_probe): the vectorized matmul replaces an
    # interpreted per-centroid fold (higher-order functions don't
    # codegen; measured ~3x on a 2k x 64-dim corpus), and using the
    # IDENTICAL float arithmetic on both sides keeps near-tie cells
    # consistent — a corpus vector used as a query always probes its
    # own assigned cell first, so approximate top-1 of an in-corpus
    # query is exact by construction.
    from pyspark.sql.functions import pandas_udf

    C = np.array(centers, dtype=np.float64)
    Csq = (C * C).sum(axis=1)

    @pandas_udf("array<int>")
    def cell_ranking(v: pd.Series) -> pd.Series:
        valid = v.notna().to_numpy()
        out = np.zeros(len(v), dtype=object)
        out[~valid] = None  # NULL vector -> NULL ranking -> no cell
        if valid.any():
            m = np.stack(v.to_numpy()[valid]).astype(np.float64)
            nrm = np.linalg.norm(m, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            d = Csq[None, :] - 2.0 * ((m / nrm) @ C.T)
            idx = np.argsort(d, axis=1, kind="stable")
            # element-wise: boolean assignment would read the row list
            # as a 2-D array, not one ranking object per slot
            for pos, ranking in zip(np.flatnonzero(valid), idx.astype(np.int32)):
                out[pos] = ranking
        return pd.Series(out)

    assigned = corpus.withColumn(
        "_cell", F.get(cell_ranking(F.col(vec_col)), 0)
    )

    probes = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("_qvec"),
        F.explode(
            F.slice(cell_ranking(F.col(vec_col)), 1, n_probe)
        ).alias("_cell"),
    )

    # einsum Arrow kernel: norms live inside the numpy batch.
    # NULL/zero-norm rows yield 0.0 — exactly the fold's .otherwise(0.0)
    q = probes.select("qid", "_cell", F.col("_qvec").alias("_qemb"))
    c = assigned.select(F.col(id_col), "_cell", F.col(vec_col).alias("_emb"))
    pairs = c.join(F.broadcast(q), "_cell").withColumn(
        "_sim", _cosine_batch_udf("_qemb", "_emb")
    )
    # same self-first tie-break as cosine_topk_lsh (ADVICE r02)
    w = Window.partitionBy("qid").orderBy(
        F.col("_sim").desc(),
        (F.col(id_col) == F.col("qid")).desc(),
        F.col(id_col),
    )
    out = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            "qid",
            id_col,
            (
                F.round("_sim", round_to)
                if round_to is not None
                else F.col("_sim")
            ).alias("sim"),
        )
    )
    # |queries|*k bounded output — gather-sort, not a range sort
    return out.repartition(1).sortWithinPartitions(
        "qid", F.col("sim").desc(), id_col
    )
