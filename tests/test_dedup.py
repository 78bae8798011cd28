"""Unit tests for the dedup operators against brute-force Python
oracles — locks in the posting-list pair refactor (ADVICE r01): the
incremental emitter, the max_df recount path, the simhash banding, and
the shingle-less-doc exclusion all get content-level checks here
(q38's driver check is rows-only).
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import Row, functions as F

from mandoline_spark.functions.dedup import (
    _posting_pairs,
    doc_gram_hashes,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _py_grams(text: str, n: int = 3) -> set[str]:
    """Python mirror of gram_array: word n-grams (partial tail gram for
    short texts), distinct, only fully-empty grams dropped.  Mirrors
    concat_ws EXACTLY: empty split tokens are KEPT (a doc with leading
    whitespace splits to ['', ...] and its grams carry the empty word,
    e.g. ' a b'), only past-the-end words (NULL, skipped by concat_ws)
    are absent — dropping empties here diverged from gram_array for any
    leading/trailing-whitespace doc (ADVICE r02)."""
    import re

    words = re.split(r"\s+", text)
    out = set()
    for i in range(max(len(words) - n, 0) + 1):
        g = " ".join(words[i : i + n])
        if g:
            out.add(g)
    return out


# -- posting-pair emitter -----------------------------------------------------


def test_posting_pairs_enumerate_upper_triangle(spark):
    rows = [Row(id=i, bucket=b) for b, n in [(0, 4), (1, 2), (2, 1)] for i in range(n)]
    # bucket 0 holds ids 0..3, bucket 1 ids 0..1, bucket 2 id 0
    banded = spark.createDataFrame(rows)
    got = {
        (r.a, r.b)
        for r in _posting_pairs(banded, ["bucket"], []).collect()
    }
    want = set(itertools.combinations(range(4), 2)) | {(0, 1)}
    assert got == want


def test_posting_pairs_payload_and_max_bucket(spark):
    rows = [
        Row(id=i, bucket=b, v=i * 10)
        for b, ids in [(0, [1, 2, 3]), (1, [4, 5])]
        for i in ids
    ]
    banded = spark.createDataFrame(rows)
    got = sorted(
        (r.a, r.b, r.v_a, r.v_b)
        for r in _posting_pairs(banded, ["bucket"], ["v"], max_bucket=2).collect()
    )
    # bucket 0 (size 3) dropped by the cap; bucket 1 survives
    assert got == [(4, 5, 40, 50)]


# -- pure-python xxh64 mirror --------------------------------------------------


def test_py_xxh64_matches_spark(spark):
    """The oracle-side XXH64 (functions/_xxh64.py, used to generate
    q38's literal-VALUES expectation) must match F.xxhash64 byte-for-
    byte across stripe/tail lengths and multi-byte UTF-8."""
    import random
    import string

    from pyspark.sql import Row

    from mandoline_spark.functions._xxh64 import xxh64_signed

    random.seed(7)
    alphabet = string.ascii_letters + " äöü€𝄞"
    samples = [""] + [
        "".join(random.choice(alphabet) for _ in range(n))
        for n in list(range(1, 40)) + [63, 64, 65, 95, 96, 97]
    ]
    rows = (
        spark.createDataFrame([Row(s=s) for s in samples])
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    for r in rows:
        assert xxh64_signed(r.s.encode("utf-8")) == r.h, repr(r.s)


# -- Arrow kernels vs expression folds ----------------------------------------


def test_signature_kernels_match_expression_folds(spark):
    """The Arrow-batched numpy folds (_minhash_kernel/_simhash_kernel,
    the hot path) over the production gram-hash set (_gram_hash_col)
    must be bit-for-bit the JVM expression folds (_signature_col/
    _simhash_col, kept as the executable spec) over the gram strings of
    gram_array — including empty word arrays (all-PRIME / zero
    degenerate values) and NULL ones."""
    from mandoline_spark.functions.dedup import (
        _gram_hash_col,
        _minhash_kernel,
        _signature_col,
        _simhash_col,
        _simhash_kernel,
        gram_array,
    )

    docs = _docs(spark).select(
        F.col("doc_id").alias("id"),
        F.split("text", r"\s+").alias("_words"),
    )
    edge = spark.createDataFrame(
        [Row(id=-1, _words=[]), Row(id=-2, _words=None)], docs.schema
    )
    dg = docs.union(edge).select(
        "id",
        gram_array("_words", 3).alias("grams"),
        _gram_hash_col(3).alias("ghashes"),
    )
    both = dg.select(
        "id",
        _signature_col(F.col("grams"), 16, 42).alias("sig_e"),
        _minhash_kernel(16, 42)(F.col("ghashes")).alias("sig_k"),
        _simhash_col(F.col("grams")).alias("sh_e"),
        _simhash_kernel(64)(F.col("ghashes")).alias("sh_k"),
    ).collect()
    assert both  # fixture non-empty
    for r in both:
        assert r.sig_e == r.sig_k, r.id
        assert r.sh_e == r.sh_k, r.id


# -- simhash -------------------------------------------------------------------


def _brute_simhash_pairs(spark, docs, max_hamming: int, n: int = 3):
    """All a<b pairs with hamming(simhash) <= max_hamming, by full scan
    over the per-doc fingerprints (shingle-less docs excluded, matching
    simhash_pairs)."""
    dg = doc_gram_hashes(docs, n=n).where(F.size("ghashes") > 0)
    sigs = {
        r.id: r.simhash
        for r in dg.join(simhash(docs, n=n), "id").select("id", "simhash").collect()
    }
    ids = sorted(sigs)

    def ham(a, b):
        # mask: fingerprints are int64 (possibly negative); Python's
        # bin() on a negative xor would count magnitude bits instead of
        # two's-complement bits
        return bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")

    return {
        (a, b, ham(a, b))
        for a, b in itertools.combinations(ids, 2)
        if ham(a, b) <= max_hamming
    }


def test_simhash_pairs_exact_within_pigeonhole(spark):
    """With max_hamming <= bands-1 the banding is exact: output must
    EQUAL the brute-force hamming scan."""
    docs = _docs(spark)
    got = {
        (r.a, r.b, r.hamming)
        for r in simhash_pairs(docs, max_hamming=3, bands=4).collect()
    }
    assert got == _brute_simhash_pairs(spark, docs, max_hamming=3)


def test_simhash_pairs_sound_beyond_pigeonhole(spark):
    """At max_hamming=8 with 4 bands the banding is a recall<1
    heuristic, but every emitted pair must be a true hamming<=8 pair
    and every hamming<=3 pair must still be found (pigeonhole)."""
    docs = _docs(spark)
    got = {
        (r.a, r.b, r.hamming)
        for r in simhash_pairs(docs, max_hamming=8, bands=4).collect()
    }
    brute8 = _brute_simhash_pairs(spark, docs, max_hamming=8)
    brute3 = {t for t in brute8 if t[2] <= 3}
    assert got <= brute8
    assert brute3 <= got


# -- ngram jaccard -------------------------------------------------------------


def _brute_jaccard_pairs(texts: dict, threshold: float, max_df=None):
    grams = {i: _py_grams(t) for i, t in texts.items()}
    if max_df is not None:
        df_count = {}
        for gs in grams.values():
            for g in gs:
                df_count[g] = df_count.get(g, 0) + 1
        grams = {
            i: {g for g in gs if df_count[g] <= max_df}
            for i, gs in grams.items()
        }
    out = set()
    for a, b in itertools.combinations(sorted(grams), 2):
        ga, gb = grams[a], grams[b]
        common = len(ga & gb)
        if common == 0:
            continue
        jac = common / (len(ga) + len(gb) - common)
        if jac >= threshold:
            out.add((a, b, round(jac, 6)))
    return out


def _max_df_by_sizes_join(spark, docs, threshold: float, max_df: int):
    """``ngram_jaccard_pairs(max_df=...)`` as {(a, b): jac}, keyed by
    the join its per-doc sizes took: a BroadcastHashJoin at the default
    ``spark.sql.autoBroadcastJoinThreshold``, a SortMergeJoin at -1.
    Each plan is checked to hold that join and no other.  ``docs``
    must come from a scan: an RDD of Python rows has no size estimate,
    so the planner would sort-merge it at any threshold."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    out = {}
    try:
        for thr, join in ((old, "BroadcastHashJoin"), ("-1", "SortMergeJoin")):
            spark.conf.set(key, thr)
            df = ngram_jaccard_pairs(docs, threshold=threshold, max_df=max_df)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Join ") == plan.count(join) == 1, plan
            out[join] = {(r.a, r.b): float(r.jac) for r in df.collect()}
    finally:
        spark.conf.set(key, old)
    return out


@pytest.mark.parametrize("max_df", [None, 3])
def test_ngram_jaccard_matches_bruteforce(spark, max_df):
    """The default path posts only each doc's threshold prefix of
    sorted gram hashes, so it is checked across thresholds — prefix
    lengths from most of a set (0.2) down to a single gram (1.0).  On
    this slice ``max_df`` drops real stop-shingles, and that path is
    checked with its sizes join both broadcast and sort-merged."""
    docs = _docs(spark).limit(120)
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for t in (0.2, 0.5, 0.8, 0.9, 1.0) if max_df is None else (0.2, 0.5):
        if max_df is None:
            runs = [
                {
                    (r.a, r.b): float(r.jac)
                    for r in ngram_jaccard_pairs(docs, threshold=t).collect()
                }
            ]
        else:
            runs = list(_max_df_by_sizes_join(spark, docs, t, max_df).values())
        brute = {
            (a, b): j for a, b, j in _brute_jaccard_pairs(texts, t, max_df)
        }
        for got in runs:
            assert set(got) == set(brute), t
            for pair, j in got.items():
                assert j == pytest.approx(brute[pair], abs=1e-6)


def test_ngram_jaccard_prefix_keeps_boundary_pair(spark):
    """J == t exactly with an integral t·|x|: A (4 grams) ⊂ B (5 grams)
    at t = 0.8, so J = 4/5 = t.  The prefix of A holds
    4 - floor(0.8·4) + 1 = 2 hashes and that of B 5 - 4 + 1 = 2, and
    the pair must still meet in a posting list and be kept."""
    rows = [
        Row(doc_id=1, text="w0 w1 w2 w3 w4 w5"),  # 4 grams
        Row(doc_id=2, text="w0 w1 w2 w3 w4 w5 w6"),  # 5 grams, ⊃ A
        Row(doc_id=3, text="x0 x1 x2 x3 x4 x5"),
    ]
    docs = spark.createDataFrame(rows)
    want = _brute_jaccard_pairs({r.doc_id: r.text for r in rows}, 0.8)
    assert want == {(1, 2, 0.8)}
    got = {
        (r.a, r.b, float(r.jac))
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert got == want


def test_ngram_jaccard_default_path_edge_docs(spark):
    """String ids with empty and whitespace-only docs on the default
    (prefix-filtered) path: empty text has no gram and never pairs,
    while two whitespace-only docs share the single gram " " (J = 1),
    exactly as the brute-force oracle counts them."""
    texts = {
        "doc-a": "the quick brown fox jumps over the lazy dog",
        "doc-b": "the quick brown fox jumps over the lazy cat",
        "doc-c": "",
        "doc-d": "   ",
        "doc-e": "\t ",
        "doc-f": "",
        "doc-g": "the quick brown fox jumps over the lazy dog",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()]
    )
    for t in (0.3, 0.8, 1.0):
        got = {
            (r.a, r.b, r.jac)
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        assert got == _brute_jaccard_pairs(texts, t), t
    assert ("doc-d", "doc-e", 1.0) in got


@pytest.mark.slow
def test_ngram_jaccard_prefix_property(spark):
    """Property (hypothesis): on random small corpora over a tiny
    vocabulary (so sets overlap heavily, sizes vary and pairs sit near
    the threshold) the prefix-filtered default path returns exactly the
    brute-force pair set and values at any threshold."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    words = st.lists(st.sampled_from("abcde"), max_size=9)
    corpora = st.lists(words.map(" ".join), min_size=2, max_size=8)
    thresholds = st.sampled_from([0.1, 0.25, 1 / 3, 0.5, 0.6, 2 / 3, 0.75, 0.8, 0.9, 1.0])

    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(corpora, thresholds)
    def check(texts, t):
        rows = [Row(doc_id=i, text=x) for i, x in enumerate(texts)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.a, r.b, r.jac)
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        assert got == _brute_jaccard_pairs(dict(enumerate(texts)), t)

    check()


# -- shingle-less docs ----------------------------------------------------------


def test_empty_docs_never_pair(spark):
    # NB: two whitespace-only docs would legitimately pair (both carry
    # the single gram " ", same as the DuckDB array_to_string oracle),
    # so only one appears here; truly empty text yields no shingles
    rows = [
        Row(doc_id=1, text=""),
        Row(doc_id=2, text="   "),
        Row(doc_id=3, text="unrelated words entirely different here"),
        Row(doc_id=4, text="alpha beta gamma delta"),
        Row(doc_id=5, text="alpha beta gamma delta"),
    ]
    docs = spark.createDataFrame(rows)
    mh = minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert [(r.a, r.b) for r in mh] == [(4, 5)]
    sh = simhash_pairs(docs, max_hamming=3).collect()
    assert [(r.a, r.b) for r in sh] == [(4, 5)]


def test_minhash_verify_broadcast_id_named_id(spark):
    """The verify join meets the gram pass on ``id``; with id_col ==
    "id" the bare column name exists on BOTH sides (r9 review finding —
    the join/select must resolve it, as the r8 USING join did)."""
    rows = [
        # identical texts: banding recall is 1.0 regardless of seed —
        # this test pins name RESOLUTION, not LSH recall
        Row(id=1, text="alpha beta gamma delta epsilon zeta"),
        Row(id=2, text="alpha beta gamma delta epsilon zeta"),
        Row(id=3, text="totally different words over here now"),
    ]
    docs = spark.createDataFrame(rows)
    got = minhash_lsh_pairs(docs, threshold=0.5, id_col="id").collect()
    assert [(r.a, r.b, r.jac) for r in got] == [(1, 2, 1.0)]


def test_ngram_jaccard_string_ids(spark):
    """The fused max_df path's size marker is the SELF-PAIR (x, x), so
    it must carry whatever type the id column has — pin the non-long
    case with string ids against the brute-force oracle."""
    texts = {
        "doc-a": "the quick brown fox jumps over the lazy dog",
        "doc-b": "the quick brown fox jumps over the lazy cat",
        "doc-c": "completely different words here entirely now",
        "doc-d": "the quick brown fox jumps over the lazy dog",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()]
    )
    got = {
        (r.a, r.b, r.jac)
        for r in ngram_jaccard_pairs(
            docs, threshold=0.3, max_df=10
        ).collect()
    }
    want = _brute_jaccard_pairs(texts, 0.3, max_df=10)
    assert got == want, (got, want)


def test_ngram_jaccard_size_band_prune_exact(spark, tmp_path):
    """The max_df path's pair emitter drops pairs whose post-drop set
    sizes make the threshold unreachable (jac <= min/max), BEFORE the
    pair exchange.  Pins: (a) a pair the band provably excludes
    (|A|=10 vs |B|=40, jac <= 0.25 < 0.5) never changes the result;
    (b) a pair sitting EXACTLY on the boundary (A subset of B,
    |A|=10, |B|=20, jac = 10/20 = 0.5 = t) is kept — the -1 integer
    slack in the prune inequality protects it; (c) the broadcast sizes
    join equals the sort-merge one and the brute-force oracle on the
    same fixture."""
    toks = [f"w{i}" for i in range(60)]

    def text(idx):  # distinct 3-gram per consecutive token triple
        return " ".join(toks[i] for i in idx)

    rows = [
        # A: 12 tokens -> 10 grams; B: A's tokens + 30 more -> 40 grams
        Row(doc_id=1, text=text(range(12))),
        Row(doc_id=2, text=text(range(42))),
        # C == A exactly (jac 1.0, kept)
        Row(doc_id=3, text=text(range(12))),
        # D: first 22 tokens -> 20 grams; A's grams are a subset:
        # jac(A, D) = 10 / (10 + 20 - 10) = 0.5 == threshold exactly
        Row(doc_id=4, text=text(range(22))),
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows).write.parquet(path)
    docs = spark.read.parquet(path)
    texts = {r.doc_id: r.text for r in rows}
    want = _brute_jaccard_pairs(texts, 0.5, max_df=50)
    shapes = _max_df_by_sizes_join(spark, docs, 0.5, 50)
    got = shapes["BroadcastHashJoin"]
    assert shapes["SortMergeJoin"] == got
    assert set(got) == {(a, b) for a, b, _ in want}
    brute = {(a, b): j for a, b, j in want}
    for pair, j in got.items():
        assert j == pytest.approx(brute[pair], abs=1e-6)
    # the boundary pair and the exact-dup pair are present, the banded
    # pair is not
    assert (1, 4) in got and (1, 3) in got
    assert (1, 2) not in got and (2, 3) not in got



def test_minhash_verify_broadcast_streams_one_gram_pass(spark):
    """r16: the verify join streams the ONE-pass gram pipeline (dgh)
    instead of recomputing the gram expression per candidate member
    row — banding's candidate count follows the dup rate, not the
    corpus size, and at sf1 (5 pairs per doc) the per-member recompute
    was ~10 corpus passes of interpreted HOF work (19 of q36's 21 s;
    PROBE_Q36_VERIFY_SF1_r16.json pins the 6.5x).  Pinned two ways:
    (a) the per-member gram marker — the inlined
    `transform(array(split(...)))[0]` expression the old shape
    projected ABOVE the join — does not appear in the executed plan;
    (b) the result equals brute force on a fixture where one doc
    participates in MANY pairs (the case the old shape recomputed per
    pair)."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [Row(doc_id=i, text=base) for i in range(1, 7)] + [
        Row(doc_id=9, text="totally unrelated words over here now friend"),
    ]
    docs = spark.createDataFrame(rows)
    mh = minhash_lsh_pairs(docs, threshold=0.5)
    plan = mh._jdf.queryExecution().executedPlan().toString()
    assert "transform(array(split(" not in plan
    got = [(r.a, r.b, r.jac) for r in mh.collect()]
    # 6 identical docs -> all 15 pairs at jac 1.0, via every doc
    # sitting in 5 pairs (10 member rows) -- the multi-pair fan-out
    want = _brute_jaccard_pairs({r.doc_id: r.text for r in rows}, 0.5)
    assert set(got) == want
    assert len(got) == 15 and all(j == 1.0 for _, _, j in got)
