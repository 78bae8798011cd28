"""Physical-plan audits for the declared surface: the properties that
matter at 100 TB (pushdown, pruning, broadcast, partial aggregation,
shuffle-free signatures, index pruning) are pinned as assertions so a
plan regression fails loudly instead of running 10x slower."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from mandoline_spark.plans import (
    explain_str,
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
)
from mandoline_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_filter_reaches_scan(spark):
    q = QUERIES["q02_filter"](spark, SF)
    pf = pushed_filters(q)
    assert any("l_quantity" in f for f in pf), pf
    assert any("l_returnflag" in f for f in pf), pf


def test_range_predicate_pushdown(spark):
    q = QUERIES["q03_range_count"](spark, SF)
    pf = pushed_filters(q)
    assert any("GreaterThanOrEqual(l_partkey,100" in f for f in pf), pf
    assert any("LessThan(l_partkey,200" in f for f in pf), pf


def test_projection_prunes_columns(spark):
    q = QUERIES["q01_scan_project"](spark, SF)
    assert set(scan_read_schema(q)) == {"r_regionkey", "r_name"}


def test_small_dim_join_broadcasts(spark):
    assert has_broadcast_join(QUERIES["q05_join_broadcast"](spark, SF))


def test_hash_agg_is_partial(spark):
    """Map-side combine: partial aggregation before the exchange."""
    text = explain_str(QUERIES["q10_agg_hash"](spark, SF))
    assert "partial_sum" in text and "partial_count" in text


def _children(node) -> list:
    """A physical plan node's children; a ReusedExchange stands for the
    exchange it reuses."""
    if node.nodeName() == "ReusedExchange":
        return [node.child()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _nodes(node):
    yield node
    for c in _children(node):
        yield from _nodes(c)


def _first_exchanges(node) -> list:
    """The exchanges reached from ``node`` without crossing another."""
    if node.nodeName() in ("Exchange", "ReusedExchange"):
        return [node]
    return [e for c in _children(node) for e in _first_exchanges(c)]


def _is_corpus_exchange(node) -> bool:
    """An exchange fed straight by the corpus scan (no exchange below)."""
    return node.nodeName() in ("Exchange", "ReusedExchange") and not any(
        _first_exchanges(c) for c in _children(node)
    )


def _only_rebalance_exchanges(df) -> bool:
    """True when the plan's one Exchange is the deliberate per-doc
    rebalance fed straight by the corpus scan — doc_gram_hashes'
    partitioning by the unique document id (CPU-parallelism for per-doc
    work) — and no other exchange runs."""
    plan = df._jdf.queryExecution().executedPlan()
    exchanges = [
        n
        for n in _nodes(plan)
        if n.nodeName() in ("Exchange", "ReusedExchange")
    ]
    if len(exchanges) != 1 or not _is_corpus_exchange(exchanges[0]):
        return False
    part = exchanges[0].outputPartitioning().toString()
    return bool(re.fullmatch(r"hashpartitioning\(doc_id#\d+L?, \d+\)", part))


def test_minhash_signatures_have_no_key_shuffle(spark):
    from mandoline_spark.functions.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = minhash_signatures(docs)
    assert _only_rebalance_exchanges(df), (
        "signature stage must not shuffle on a key (only the per-doc "
        "rebalance is allowed):\n" + explain_str(df)
    )


def test_simhash_has_no_key_shuffle(spark):
    from mandoline_spark.functions.dedup import simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = simhash(docs)
    assert _only_rebalance_exchanges(df), explain_str(df)


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_banding_computes_signature_once(spark):
    """The banding generator references the signature array once, so
    CollapseProject is free to inline the (expensive) signature
    aggregate into the per-band lambda — re-evaluating it 16x per doc.
    Pin: exactly one `aggregate(` in the optimized plan (regression was
    8x on minhash_lsh_pairs at sf0.1)."""
    from mandoline_spark.functions.dedup import (
        _banded,
        _signature_col,
        gram_array,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sig = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.split("text", r"\s+").alias("_words"),
        )
        .select("id", gram_array("_words").alias("grams"))
        .select("id", _signature_col(F.col("grams"), 64, 42).alias("sig"))
    )
    plan = _optimized_plan(_banded(sig, 64, 16))
    assert plan.count("aggregate(") == 1, plan


@pytest.mark.parametrize("fn_name", ["minhash_lsh_pairs", "simhash_pairs"])
def test_neardup_pipelines_keep_gram_work_off_the_scan(spark, fn_name):
    """No Filter at (or below) the repartition may contain the gram
    pipeline: a pushed-down size(grams) > 0 pre-filter re-inlines split/
    concat_ws into a single-task Filter over the raw one-file corpus
    (regression was 6-10x at sf0.1).  Shingle-less docs are excluded via
    unique band keys inside the banding projection instead."""
    from mandoline_spark.functions import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = getattr(dedup, fn_name)(docs, 0.8 if "minhash" in fn_name else 3)
    plan = _optimized_plan(df)
    for line in plan.splitlines():
        stripped = line.strip(" +-:")
        if stripped.startswith("Filter"):
            assert "concat_ws" not in line and "split(" not in line, line


def test_bucket_caps_filter_before_collect(spark):
    """max_df / max_bucket must drop hot keys BEFORE collect_list: the
    guard is a window count on the groupBy's own exchange, so the plan
    shows a Window + row-level filter below the list aggregate and NO
    extra hashpartitioning exchange for it (a post-collect size filter
    would materialize a corpus-scale stop-shingle's posting array in
    one unspillable aggregation buffer — ADVICE r03)."""
    from mandoline_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    # A prior test in the session (e.g. oracle parity on q37) may have
    # left the pipeline's persisted posting lists in the cache; the
    # CacheManager then splices an InMemoryRelation — whose printed
    # child plan inflates the exchange counts below — into this fresh
    # plan.  The assertions describe the cold-cache plan, so start cold.
    # AQE is toggled off for the CAPTURE only: under AQE the identical
    # exchanges are deduplicated at runtime by the adaptive stage
    # cache, so the pre-execution plan string prints them twice; the
    # static planner's ReuseExchange makes the sharing assertable.
    spark.catalog.clearCache()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = (
            ngram_jaccard_pairs(docs, threshold=0.5, max_df=20)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" in plan, plan
        assert "_bsz" in plan, plan
        # the guard adds no exchange — and the r8 shape has exactly
        # ONE REAL gram exchange total: the pair pipeline and the size
        # recount consume the same exploded-gram subtree, so the
        # second consumer must plan as a ReusedExchange, not a
        # re-evaluation (the pre-r8 shape re-ran the whole gram
        # pipeline for each size join)
        assert plan.count("+- Exchange hashpartitioning(gram") == 1, plan
        assert "ReusedExchange" in plan, plan
        plan2 = (
            minhash_lsh_pairs(docs, threshold=0.8, max_bucket=10_000)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" in plan2 and "_bsz" in plan2, plan2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert plan2.count("hashpartitioning(band") == 1, plan2


@pytest.mark.parametrize("fn_name", ["ngram_jaccard_pairs", "minhash_lsh_pairs"])
def test_exact_jaccard_intersects_each_pair_once(spark, fn_name):
    """Each exact-Jaccard emitter evaluates one ``array_intersect``
    per candidate pair: the verify aggregate computes common/na/nb as
    its result expressions, which the threshold filter reads as
    attributes.  From a projection above the aggregate instead, Catalyst
    substitutes ``common`` into the filter twice and the projection
    computes it again (three intersections per pair).  The formatted
    explain lists every operator's expressions, the aggregate's
    results included."""
    from mandoline_spark.functions import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    text = explain_str(getattr(dedup, fn_name)(docs, threshold=0.8))
    assert text.count("array_intersect(") == 1, text


def test_q37_sizes_join_broadcasts(spark):
    """q37 (the max_df path) attaches its per-doc sizes to the posting
    rows through its plan's one join, which the planner broadcasts at
    this scale with no hint; no join runs on the pair stream."""
    q = QUERIES["q37_ngram_jaccard"](spark, SF)
    assert "strategy=broadcast" not in _optimized_plan(q)
    plan = q._jdf.queryExecution().executedPlan()
    joins = [n.nodeName() for n in _nodes(plan) if "Join" in n.nodeName()]
    assert joins == ["BroadcastHashJoin"], plan.toString()


def _below(node) -> list:
    """The nodes under ``node`` reached without crossing an exchange."""
    out = []
    for c in _children(node):
        if c.nodeName() not in ("Exchange", "ReusedExchange"):
            out += [c, *_below(c)]
    return out


# the session's shuffle partitions (= cores, 8 in the test session),
# fewer (bench.py runs 8 on local[32]) and more (Spark's default 200
# on a small host): the gram pass follows them
@pytest.mark.parametrize("shuffle_parts", [None, "3", "16"])
@pytest.mark.parametrize("fn_name", ["ngram_jaccard_pairs", "minhash_lsh_pairs"])
def test_exact_jaccard_verify_reuses_the_gram_pass_partitioning(
    spark, tmp_path, fn_name, shuffle_parts
):
    """The default exact-Jaccard emitters (prefix-filtered n-gram
    Jaccard, MinHash-LSH) verify their candidates on the id-partitioned
    corpus: the raw corpus crosses ONE exchange, hash-partitioned by
    the doc id into the shuffle partitions (its other consumer plans
    as a ReusedExchange), no BroadcastExchange runs, the verify join is
    a sort-merge join whose corpus side reaches that exchange with no
    exchange in between and builds no grams below the join (they are
    built after it, for candidate docs only), and writing the result
    launches one job."""
    from mandoline_spark.functions import dedup

    jsc = spark.sparkContext._jsc.sc()
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        if shuffle_parts is not None:
            spark.conf.set(key, shuffle_parts)
        docs = spark.read.parquet(f"{SF}/documents.parquet")  # schema job
        df = getattr(dedup, fn_name)(docs, threshold=0.8)
        plan = df._jdf.queryExecution().executedPlan()
        text = plan.toString()
        nodes = list(_nodes(plan))
        assert "BroadcastExchange" not in [n.nodeName() for n in nodes], text
        corpus = {
            n.toString(): n
            for n in nodes
            if n.nodeName() == "Exchange" and _is_corpus_exchange(n)
        }
        assert len(corpus) == 1, text
        (ex,) = corpus.values()
        parts = int(spark.conf.get(key))
        assert ex.outputPartitioning().toString().startswith(
            "hashpartitioning(doc_id#"
        ) and ex.outputPartitioning().numPartitions() == parts, text
        joins = [n for n in nodes if n.nodeName() == "SortMergeJoin"]
        assert len(joins) == 1, text
        sides = [
            c
            for c in _children(joins[0])
            if any(_is_corpus_exchange(e) for e in _first_exchanges(c))
        ]
        assert len(sides) == 1, text
        assert not any(
            "xxhash64(" in n.toString() for n in [sides[0], *_below(sides[0])]
        ), text

        ids0 = set(jsc.statusTracker().getJobIdsForGroup(None))
        df.write.parquet(str(tmp_path / "out"))
        jobs = len(set(jsc.statusTracker().getJobIdsForGroup(None)) - ids0)
        assert jobs == 1, f"{fn_name}: writing the pairs launched {jobs} jobs"
    finally:
        spark.conf.set(key, before)


def test_array_read_prunes_index(store):
    """The request slice becomes a coordinate-range predicate pushed to
    the index Parquet scan (the engine's partition pruning,
    chunk.clj:11-25 → SURVEY §4)."""
    import numpy as np

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl

    conn = store.create_dataset("ds")
    dds = {
        "dimensions": {"x": 40, "y": 40},
        "chunk-dimensions": {"x": 4, "y": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x", "y"], "fill-value": 0}
        },
    }
    t = conn.add_version(dds)
    writer.write_variable(
        conn, t, "v",
        [sb.Slab(np.ones((40, 40), np.int32), sl.mk_slice((0, 0), (40, 40)))],
    )
    conn.finish_version(t)

    token = reader.on_last_version(conn)
    idx = reader.pruned_index_df(
        conn, token, "v", sl.mk_slice((8, 8), (13, 13))
    )
    pf = pushed_filters(idx)
    assert any("c0" in f and "GreaterThanOrEqual" in f for f in pf), pf
    assert any("c1" in f and "LessThanOrEqual" in f for f in pf), pf
    # and the pruned set is exactly the 2x2 overlapped chunk coords
    assert idx.count() == 4


def test_array_read_prunes_8400_chunk_grid(store):
    """Index pruning at the reference's own perf shape
    (resources/performance.json: 400x600x900 short, 30^3 chunks =
    8,400 chunks, x-edge chunks partial): a 10^3 request must prune
    the 8,400-entry index down to exactly the overlapped 2x2x2 chunk
    coords, and a cross-edge request must include the partial edge
    chunks.  All chunks here are identical zeros, so content-address
    dedup stores ONE blob behind 8,400 index rows — the index scale is
    real, the storage is not."""
    from pyspark.sql import functions as Fn

    import pandas as pd

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slice as sl

    X, Y, Z, C = 400, 600, 900, 30
    conn = store.create_dataset("perf")
    dds = {
        "dimensions": {"x": X, "y": Y, "z": Z},
        "chunk-dimensions": {"x": C, "y": C, "z": C},
        "variables": {
            "v": {"type": "short", "shape": ["x", "y", "z"], "fill-value": -3}
        },
    }
    t = conn.add_version(dds)
    coords = [
        (cx, cy, cz)
        for cx in range(-(-X // C))
        for cy in range(-(-Y // C))
        for cz in range(-(-Z // C))
    ]
    assert len(coords) == 8400
    cdf = store.spark.createDataFrame(
        pd.DataFrame(coords, columns=["c0", "c1", "c2"])
    ).repartition(8)
    blob = b"\x00" * (C * C * C * 2)
    pieces = cdf.select(
        Fn.concat_ws("_", "c0", "c1", "c2").alias("ckey"),
        Fn.col("c0").cast("int"),
        Fn.col("c1").cast("int"),
        Fn.col("c2").cast("int"),
        Fn.lit(0).cast("long").alias("ord"),
        Fn.array(
            *[(Fn.col(c) * C).cast("int") for c in ("c0", "c1", "c2")]
        ).alias("pstart"),
        Fn.array(
            *[((Fn.col(c) + 1) * C).cast("int") for c in ("c0", "c1", "c2")]
        ).alias("pstop"),
        Fn.lit(blob).alias("data"),
    )
    writer.ingest_aligned(conn, t, "v", pieces)
    conn.finish_version(t)

    token = reader.on_last_version(conn)
    # interior 10^3 request straddling one chunk boundary per axis
    idx = reader.pruned_index_df(
        conn, token, "v", sl.mk_slice((25, 25, 25), (35, 35, 35))
    )
    pf = pushed_filters(idx)
    assert any("c0" in f and "GreaterThanOrEqual" in f for f in pf), pf
    assert any("c2" in f and "LessThanOrEqual" in f for f in pf), pf
    assert idx.count() == 8  # 2x2x2 of 8,400

    # request crossing the partial x-edge (chunk c0=13 covers 390..420
    # uncropped; only 390..400 is in-extent)
    edge = reader.pruned_index_df(
        conn, token, "v", sl.mk_slice((385, 0, 0), (400, 35, 35))
    )
    assert edge.count() == 2 * 2 * 2  # c0 in {12,13}, c1/c2 in {0,1}
    # and the read itself returns the stored zeros, cropped to extent
    got = reader.get_slice(
        conn, token, "v", sl.mk_slice((395, 0, 0), (400, 5, 5))
    )
    assert got.data.shape == (5, 5, 5) and (got.data == 0).all()


def test_strided_read_prunes_to_lattice_chunks(store):
    """A step >= chunk-size read decodes only the chunks its stride
    lattice touches, not the full bounding box (r9: stride-general
    chunk pruning via chunk_coordinate_sets — the capability the
    reference designed at slice.clj:81-102 but never shipped).  Pinned
    at both layers: the pruned index row count, and the values of the
    read itself against a numpy mirror."""
    import numpy as np

    from mandoline_spark import reader, writer
    from mandoline_spark.core import chunk as ck
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl

    conn = store.create_dataset("ds")
    dds = {
        "dimensions": {"x": 64, "y": 16},
        "chunk-dimensions": {"x": 4, "y": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x", "y"], "fill-value": 0}
        },
    }
    t = conn.add_version(dds)
    vals = np.arange(64 * 16, dtype=np.int32).reshape(64, 16)
    writer.write_variable(
        conn, t, "v", [sb.Slab(vals, sl.mk_slice((0, 0), (64, 16)))]
    )
    conn.finish_version(t)
    token = reader.on_last_version(conn)

    # x step 9 over [0, 64): lattice {0,9,...,63} → chunks {0,2,4,6,
    # 9,11,13,15} — 8 of the 16 x-chunks in the bounding box
    req = sl.Slice((0, 0), (64, 16), (9, 1))
    grid = sl.Slice((0, 0), (64, 16), (4, 4))
    csets = ck.chunk_coordinate_sets(req, grid)
    assert csets[0][2] is not None and len(csets[0][2]) == 8, csets
    assert csets[1][2] is None  # y is dense

    idx = reader.pruned_index_df(conn, token, "v", req)
    assert idx.count() == 8 * 4  # 8 x-chunks x 4 y-chunks, box is 64

    got = reader.get_slice(conn, token, "v", req)
    np.testing.assert_array_equal(got.data, vals[::9, :])

    # step below chunk size stays on the dense BETWEEN (every chunk in
    # range holds a lattice point)
    dense = ck.chunk_coordinate_sets(
        sl.Slice((0, 0), (64, 16), (3, 2)), grid
    )
    assert dense[0][2] is None and dense[1][2] is None


def test_long_sparse_read_prunes_via_modular_predicate(store):
    """Past the IN-list literal budget (npts > 256) a sparse stride no
    longer falls back to the bounding-box BETWEEN (the r9 cliff): the
    index filter carries the O(1)-literal modular predicate, the
    pruned index holds exactly the lattice chunks, and the read's
    values match the numpy mirror."""
    import numpy as np

    from mandoline_spark import reader, writer
    from mandoline_spark.core import chunk as ck
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl

    conn = store.create_dataset("ds")
    dds = {
        "dimensions": {"x": 2048},
        "chunk-dimensions": {"x": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x"], "fill-value": 0}
        },
    }
    t = conn.add_version(dds)
    vals = np.arange(2048, dtype=np.int32)
    writer.write_variable(
        conn, t, "v", [sb.Slab(vals, sl.mk_slice((0,), (2048,)))]
    )
    conn.finish_version(t)
    token = reader.on_last_version(conn)

    # step 5 over [0, 2048): 410 points > max_in 256 → ModSet branch
    req = sl.Slice((0,), (2048,), (5,))
    grid = sl.Slice((0,), (2048,), (4,))
    [(lo, hi, vset)] = ck.chunk_coordinate_sets(req, grid)
    assert isinstance(vset, ck.ModSet) and len(vset) == 410

    exact_chunks = sorted({(5 * k) // 4 for k in range(410)})
    idx = reader.pruned_index_df(conn, token, "v", req)
    got_chunks = sorted(r["c0"] for r in idx.select("c0").collect())
    assert got_chunks == exact_chunks  # 410 of 512 box chunks
    assert len(got_chunks) < (hi - lo + 1)

    got = reader.get_slice(conn, token, "v", req)
    np.testing.assert_array_equal(got.data, vals[::5])


def test_strided_read_ships_lattice_bytes_only(store):
    """r9 verdict #5: a step<chunk strided read past the small-read
    gate must NOT ship each touched chunk's full box through the Arrow
    transfer — the executor decode subsamples to the stride lattice,
    so the pieces' total payload is exactly lattice-points × itemsize
    (~1/step of the box), and the assembled result still matches the
    numpy mirror."""
    import numpy as np

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl

    # chunk 300k does NOT divide 5M: the last chunk is stored full-size
    # with fill beyond the extent (chunk.clj:27-33), so the executor
    # subsample must clip to the request, not the chunk box
    N, STEP = 5_000_000, 3  # 20 MB int32 > the 16 MB small-read gate
    conn = store.create_dataset("ds")
    t = conn.add_version(
        {
            "dimensions": {"x": N},
            "chunk-dimensions": {"x": 300_000},
            "variables": {
                "v": {"type": "int", "shape": ["x"], "fill-value": 0}
            },
        }
    )
    vals = np.arange(N, dtype=np.int32)
    writer.write_variable(
        conn, t, "v", [sb.Slab(vals, sl.mk_slice((0,), (N,)))]
    )
    conn.finish_version(t)
    token = reader.on_last_version(conn)

    req = sl.Slice((0,), (N,), (STEP,))
    n_lattice = sl.num_elements(req)

    # the distributed decode ships exactly the lattice cells
    pieces = reader._pieces_df(conn, token, "v", req)
    rows = pieces.selectExpr(
        "sum(length(data)) AS total", "count(*) AS n"
    ).collect()[0]
    assert rows["n"] == 17  # every chunk (incl. the edge) holds points
    assert rows["total"] == n_lattice * 4, (
        rows["total"],
        n_lattice * 4,
    )
    assert rows["total"] * 2 < N * 4  # strictly under half the box

    got = reader.get_slice(conn, token, "v", req)
    np.testing.assert_array_equal(got.data, vals[::STEP])


def test_version_diff_decodes_only_changed_chunks(store):
    """q81's scale shape: the diff's cell-emitting stage reads the
    full-outer index join pruned by null-safe hash inequality — its
    input is bounded by CHANGED chunks (here 4 of 100), never the full
    cell count.  Content addressing makes hash equality a sufficient
    unchanged test (overwrite versioning, test/overwrite.clj:52-64)."""
    import numpy as np

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl

    conn = store.create_dataset("ds")
    dds = {
        "dimensions": {"x": 40, "y": 40},
        "chunk-dimensions": {"x": 4, "y": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x", "y"], "fill-value": 0}
        },
    }
    t = conn.add_version(dds)
    base = np.arange(1600, dtype=np.int32).reshape(40, 40)
    writer.write_variable(
        conn, t, "v", [sb.Slab(base, sl.mk_slice((0, 0), (40, 40)))]
    )
    conn.finish_version(t)
    # second version overwrites a 6x6 block spanning 2x2 chunks
    t2 = conn.add_version(dds)
    writer.write_variable(
        conn, t2, "v",
        [sb.Slab(base[5:11, 5:11] + 1000, sl.mk_slice((5, 5), (11, 11)))],
    )
    conn.finish_version(t2)

    ta = reader.on_nth_version(conn, 0)
    tb = reader.on_nth_version(conn, -1)
    changed = reader.changed_chunks_df(conn, ta, tb, "v")
    assert changed.count() == 4  # 2x2 of the 10x10 chunk grid
    diff = reader.diff_cells_df(conn, ta, tb, "v")
    rows = {(r.dim0, r.dim1): (r.value_a, r.value_b) for r in diff.collect()}
    # exactly the overwritten cells, with both versions' values
    assert len(rows) == 36
    assert rows[(5, 5)] == (base[5, 5], base[5, 5] + 1000)
    assert rows[(10, 10)] == (base[10, 10], base[10, 10] + 1000)


def test_version_diff_skips_hash_tied_fill(store):
    """A chunk written in only one version whose content equals pure
    fill produces NO diff rows (values tie even though hashes differ),
    and a never-written coordinate on both sides never reaches the
    decode stage at all."""
    import numpy as np

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl

    conn = store.create_dataset("ds2")
    dds = {
        "dimensions": {"x": 8},
        "chunk-dimensions": {"x": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x"], "fill-value": 7}
        },
    }
    t = conn.add_version(dds)
    writer.write_variable(
        conn, t, "v",
        [sb.Slab(np.full(4, 7, np.int32), sl.mk_slice((0,), (4,)))],
    )
    conn.finish_version(t)
    t2 = conn.add_version(dds)
    writer.write_variable(
        conn, t2, "v",
        [sb.Slab(np.full(4, 9, np.int32), sl.mk_slice((4,), (8,)))],
    )
    conn.finish_version(t2)

    ta = reader.on_nth_version(conn, 0)
    tb = reader.on_nth_version(conn, -1)
    diff = reader.diff_cells_df(conn, ta, tb, "v").collect()
    # v2 carries chunk 0 forward (same hash — pruned), chunk 1 goes
    # from unwritten fill(7) to 9 on cells 4..7
    assert {(r.dim0, r.value_a, r.value_b) for r in diff} == {
        (x, 7, 9) for x in range(4, 8)
    }


@pytest.mark.parametrize("qname", ["q84_tfidf_top_term", "q92_word_entropy"])
def test_token_analytics_explode_corpus_once(spark, qname):
    """q84/q92 are single-corpus-pass plans: per-branch column pruning
    specializes aggregates and defeats ReuseExchange, so a tf/df/N join
    shape silently re-ran the token explode 3x.  Pin: exactly one
    Generate node."""
    plan = _optimized_plan(QUERIES[qname](spark, SF))
    assert plan.count("Generate explode") == 1, plan


def test_star_join_broadcasts_dimensions(spark):
    """q91: the fact-table shuffle is the only big exchange; customer
    and nation arrive broadcast."""
    q = QUERIES["q91_star_join"](spark, SF)
    plan = explain_str(q)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_version_diff_nan_to_nan_is_unchanged(store):
    """Float diff semantics: NaN -> NaN does not count as a change
    (IEEE != would say it does); a real value change in the same chunk
    still surfaces."""
    import numpy as np

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl

    conn = store.create_dataset("dsf")
    dds = {
        "dimensions": {"x": 4},
        "chunk-dimensions": {"x": 4},
        "variables": {
            "v": {"type": "double", "shape": ["x"], "fill-value": 0.0}
        },
    }
    t1 = conn.add_version(dds)
    writer.write_variable(
        conn, t1, "v",
        [sb.Slab(np.array([1.0, np.nan, 3.0, 4.0]),
                 sl.mk_slice((0,), (4,)))],
    )
    conn.finish_version(t1)
    t2 = conn.add_version(dds)
    writer.write_variable(
        conn, t2, "v",
        [sb.Slab(np.array([1.0, np.nan, 30.0, 4.0]),
                 sl.mk_slice((0,), (4,)))],
    )
    conn.finish_version(t2)

    ta = reader.on_nth_version(conn, 0)
    tb = reader.on_nth_version(conn, -1)
    diff = reader.diff_cells_df(conn, ta, tb, "v").collect()
    assert [(r.dim0, r.value_a, r.value_b) for r in diff] == [(2, 3.0, 30.0)]


def test_contamination_screen_corpus_is_map_only(spark):
    """q98: the corpus side must never shuffle — scoring is a per-row
    array_intersect against the broadcast benchmark gram set.  The only
    exchanges allowed are the benchmark fold's SinglePartition and the
    osort presentation gather (which replaced the range orderBy and its
    per-action sampling pass — r8)."""
    q = QUERIES["q98_contamination_screen"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("Exchange SinglePartition") == 2, plan


def test_sessionize_reuses_user_partitioning(spark):
    """q103: both windows, both aggregates AND the presentation order
    ride ONE user_id RANGE exchange (range partitioning satisfies the
    clustering requirement and is globally ordered — r6)."""
    q = QUERIES["q103_sessionize_events"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange rangepartitioning") == 1, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_shipping_priority_broadcasts_customer(spark):
    """q104: the filtered customer dimension arrives broadcast; the
    orders x lineitem equi-join is the only worker-scale join."""
    q = QUERIES["q104_shipping_priority"](spark, SF)
    assert has_broadcast_join(q)


def test_length_outliers_broadcast_stats(spark):
    """q102: the per-source median/MAD statistics join back to the
    corpus as broadcasts — the corpus never shuffles on source."""
    q = QUERIES["q102_length_outliers"](spark, SF)
    plan = explain_str(q)
    assert plan.count("BroadcastHashJoin") >= 2, plan


# -- r5 shape pins -------------------------------------------------------------


def test_q84_argmax_is_aggregate_not_rank_window(spark):
    """q84's per-doc argmax must stay a partial-aggregable min-over-
    struct: ANY ranking window (row_number/rank/dense_rank) would sort
    and shuffle every (doc, word) score row instead of reducing to one
    row per doc map-side.  Exactly ONE Window node may remain — the df
    count, which shares the tf exchange."""
    text = explain_str(QUERIES["q84_tfidf_top_term"](spark, SF))
    for fn in ("row_number", "dense_rank", "rank("):
        assert fn not in text, (fn, text)
    windows = set(re.findall(r"\((\d+)\) Window", text))
    assert len(windows) == 1, (sorted(windows), text)
    assert "partial_min" in text, text


def test_q60_exact_side_has_no_percentile_aggregate(spark):
    """q60's exact side is the rank-count check: the `percentile`
    aggregate (every value of a group in one unspillable map) must not
    reappear, and neither may the earlier window-rank sort (per-group
    sort with only |groups|-way parallelism).  approx_percentile (the
    sketch under test) is the one allowed percentile node, and the
    3-row sketch side must broadcast into the count pass."""
    text = explain_str(QUERIES["q60_approx_percentile"](spark, SF))
    bare = re.sub(r"approx_percentile", "", text)
    assert "percentile" not in bare, text
    assert "Window" not in text, text
    assert "BroadcastHashJoin" in text, text


def test_psort_is_single_partition_not_range_sort(spark):
    """Bounded-result queries sort on the gather point: the plan must
    carry a SinglePartition exchange feeding a (non-global) local
    sort, and NO range exchange (whose sampling pass costs an extra
    job).  Both directions asserted: absence of rangepartitioning
    alone would also pass if the sort vanished entirely."""
    for name in ("q10_agg_hash", "q70_stats_agg", "q105_token_budget_sample"):
        text = explain_str(QUERIES[name](spark, SF))
        low = text.lower()
        assert "rangepartitioning" not in low, (name, text)
        assert "singlepartition" in low, (name, text)
        # psort's sortWithinPartitions: a Sort node whose arguments end
        # in global=false ("..., false, 0" in the formatted details)
        assert "false, 0" in low, (name, text)


def test_topk_keeps_take_ordered(spark):
    """orderBy+limit top-k queries must plan as TakeOrderedAndProject
    (per-partition top-k, tiny merge) — a gather-point sort before the
    limit funnels the whole input through one task (caught in the r5
    review on q17/q85/q104)."""
    for name in ("q17_topk", "q85_vocab_df_topk", "q104_shipping_priority"):
        text = explain_str(QUERIES[name](spark, SF))
        assert "TakeOrderedAndProject" in text, (name, text)


def test_delta_stack_resolution_is_single_scan(spark, tmp_path):
    """A multi-delta overlay chain must resolve through ONE multi-path
    parquet relation + one aggregation — not one scan and one
    anti-join per generation (the r4 shape, super-linear per read)."""
    import numpy as np

    from mandoline_spark import writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl
    from mandoline_spark.store import Store

    store = Store(spark, str(tmp_path / "ds_root"))
    conn = store.create_dataset("ds")
    t = conn.add_version(
        {
            "dimensions": {"x": 8},
            "chunk-dimensions": {"x": 4},
            "variables": {
                "v": {"type": "int", "shape": ["x"], "fill-value": 0}
            },
        }
    )
    writer.write_variable(
        conn, t, "v", [sb.empty("int", sl.mk_slice((0,), (8,)), 1)]
    )
    for k in range(4):
        writer.write_variable(
            conn,
            t,
            "v",
            [sb.empty("int", sl.mk_slice((0,), (4,)), 10 + k)],
            index_mode="delta",
        )
    vid = conn.finish_version(t)
    idx = conn.index_df(vid, "v")
    text = explain_str(idx)
    # scan NODES: one for the full base + two references to the ONE
    # 4-delta stack relation (the winner feeds both union branches of
    # the final anti-join overlay).  The r4 per-delta chain grew a
    # scan pair per generation (~9 nodes here).
    nodes = set(re.findall(r"\((\d+)\) Scan parquet", text))
    assert len(nodes) <= 3, (sorted(nodes), text)
    assert "max_by" in text, text


def test_ranged_is_range_exchange_plus_inpartition_sort(spark):
    """ranged()'s physical contract (VERDICT r7 #6): a range exchange on
    the presentation keys + an in-partition (non-global) sort BELOW the
    computed projection, and NO top-level global Sort — partition-index
    traversal at collect() is what delivers total order.  q92 is a
    representative corpus-proportional caller."""
    from mandoline_spark.queries import ranged

    df = spark.range(0, 1000).withColumn("k", F.col("id") % 7)
    text = explain_str(ranged(df, "k", "id"))
    assert "rangepartitioning(k" in text.lower(), text
    # exactly one Sort node, and every Sort Arguments line is the
    # in-partition form "...], false, 0" (a global orderBy prints true).
    # Nodes are counted by their numbered detail header "(4) Sort ...":
    # the tree line reads "Sort (4)" with AQE on and "* Sort (4)" with
    # it off, while the header has one form in both.
    n_sorts = len(re.findall(r"^\(\d+\) Sort\b", text, re.M))
    assert n_sorts == 1, text
    assert "], false, 0" in text and "], true," not in text, text

    q = QUERIES["q41_token_count"](spark, SF)
    qtext = explain_str(q)
    assert "rangepartitioning" in qtext.lower(), qtext
    assert "], false, 0" in qtext and "], true," not in qtext, qtext


def test_constant_job_counts(spark):
    """Job-count budget for the multi-job-constant family (VERDICT r7
    #3/#1): after the per-session warm-up (catalog resolution, IVF
    training, fixture build — all memoized), a steady-state run may
    launch at most the budgeted number of Spark jobs.  q37 pays its
    doc-size broadcast build + the action (the pair/size subtrees
    share one exchange via ReuseExchange); the array reads pay one
    broadcast build + the action; q66 pays the probe-side broadcast;
    q60 pays the sketch-side broadcast build + the count-pass action."""
    budgets = {
        "q37_ngram_jaccard": 2,  # size-broadcast build + action
        "q36_minhash_neardup": 1,  # action (shuffled-hash verify join)
        # r9 job-kills: footer-stats bounds/counts replaced per-action
        # broadcast subtrees, and the osort gather gate removed the
        # range-sampling job at fixture scale
        "q90_resample_ffill": 1,
        "q94_rare_token_docs": 1,
        "q15_window_lag": 1,
        "q34_array_slice": 2,      # pruned-index broadcast + action
        "q35_array_timetravel": 2,
        "q81_array_version_diff": 1,
        "q60_approx_percentile": 2,  # sketch-side broadcast + action
        "q66_ann_ivf_top1": 2,     # centroid-probe broadcast + action
    }
    jsc = spark.sparkContext._jsc.sc()
    sf = "/root/testdata/sf0.001"
    # AQE runs every query stage as its own job — the budgets describe
    # the plan's structural job count, measured the way the bench
    # measures (AQE off for the tiny declared surface).
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, budget in budgets.items():
            QUERIES[name](spark, sf).collect()  # warm: memoized state
            ids0 = set(jsc.statusTracker().getJobIdsForGroup(None))
            df = QUERIES[name](spark, sf)
            df.select("*")._jdf.queryExecution().toRdd().count()
            got = len(set(jsc.statusTracker().getJobIdsForGroup(None)) - ids0)
            assert got <= budget, f"{name}: {got} jobs > budget {budget}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_cold_catalog_job_budget(spark):
    """A first run on an empty resolved-relation cache pays no job to
    resolve its tables (their schemas come from driver-side footer
    reads): q04 launches the nation broadcast and the action, as a
    warm run does."""
    from mandoline_spark import queries

    jsc = spark.sparkContext._jsc.sc()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        queries._LOAD_CACHE.clear()
        ids0 = set(jsc.statusTracker().getJobIdsForGroup(None))
        df = QUERIES["q04_join_inner"](spark, SF)
        df.select("*")._jdf.queryExecution().toRdd().count()
        got = len(set(jsc.statusTracker().getJobIdsForGroup(None)) - ids0)
        assert got <= 2, f"q04 on a cold cache: {got} jobs > budget 2"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_rare_token_screen_single_word_exchange(spark):
    """q94's df guard is a count-over-window riding the ONE word-keyed
    exchange (r8: the aggregate-then-semi-join-back shape evaluated the
    corpus explode per branch and paid three word exchanges)."""
    text = explain_str(QUERIES["q94_rare_token_docs"](spark, SF))
    assert text.lower().count("hashpartitioning(word") == 1, text


def test_repetition_screen_has_no_join(spark):
    """q99's bigram stats ride the word explode as grouping keys — the
    plan has no join and one tokenization (r8)."""
    q = QUERIES["q99_repetition_screen"](spark, SF)
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    # one split() in the whole plan: the tokenization runs once
    assert plan.count("split(text") == 1, plan


def test_osort_branches_agree_and_gate_reads_no_jobs(spark):
    """osort()'s contract (r8): below the catalog-stats cutover it
    gathers to ONE partition (no range-sampling pass), above it it is
    exactly orderBy, and BOTH branches produce the identical collected
    row order.  The gate itself reads parquet footers driver-side —
    building the gated plan must launch zero Spark jobs."""
    from mandoline_spark.queries import _GATHER_MAX_ROWS, osort, table_rows

    df = (
        spark.range(0, 5000)
        .withColumn("k", (F.col("id") * 2654435761) % 997)
        .select("k", "id")
    )
    low = osort(df, 1000, "k", "id")  # below cutover -> gather
    high = osort(df, _GATHER_MAX_ROWS + 1, "k", "id")  # above -> orderBy
    low_text = explain_str(low)
    assert "rangepartitioning" not in low_text.lower(), low_text
    assert "SinglePartition" in low_text, low_text
    high_text = explain_str(high)
    assert "rangepartitioning" in high_text.lower(), high_text
    assert low.collect() == high.collect()

    # the gate is driver-side metadata: plan construction runs no jobs
    jsc = spark.sparkContext._jsc.sc()
    table_rows(SF, "orders")  # prime the footer cache out of the count
    ids0 = set(jsc.statusTracker().getJobIdsForGroup(None))
    n = table_rows(SF, "orders")
    assert n > 0
    assert set(jsc.statusTracker().getJobIdsForGroup(None)) == ids0


def test_footer_minmax_and_q90_fallback(spark, tmp_path):
    """table_col_minmax reads exact bounds from footer statistics
    (zero jobs, datetime-typed for timestamp columns) and returns None
    when a file carries no stats — and q90 then takes the documented
    Spark-aggregate fallback and still produces the identical result
    (r9 review: a non-datetime or absent statistic must never crash
    the query)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mandoline_spark.queries import QUERIES, table_col_minmax

    mm = table_col_minmax(SF, "events", "ts")
    assert mm is not None and mm[0] <= mm[1]
    assert hasattr(mm[0], "replace")  # datetime, not an epoch int

    # a stats-less copy of the fixture: the helper must answer None
    nostats = tmp_path / "nostats"
    nostats.mkdir()
    tbl = pq.read_table(f"{SF}/events.parquet")
    pq.write_table(
        tbl, str(nostats / "events.parquet"), write_statistics=False
    )
    for t in ("region nation customer supplier part orders lineitem "
              "documents embeddings").split():
        shutil.copy(f"{SF}/{t}.parquet", str(nostats / f"{t}.parquet"))
    assert table_col_minmax(str(nostats), "events", "ts") is None

    # q90 on the stats-less dir: fallback branch, identical rows
    want = QUERIES["q90_resample_ffill"](spark, SF).collect()
    got = QUERIES["q90_resample_ffill"](spark, str(nostats)).collect()
    assert got == want


def test_footer_caches_track_file_identity(tmp_path):
    """The footer-stat caches key on (path, mtime, size), not path
    alone: rewriting a table file in place serves the NEW stats, the
    way a catalog's file-listing refresh would (r9 ADVICE — a
    path-only key silently froze bounds/counts after a rewrite)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mandoline_spark.queries import table_col_minmax, table_rows

    d = str(tmp_path)
    p = os.path.join(d, "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": pa.array([1, 2, 3])}), p)
    assert table_rows(d, "orders") == 3
    assert table_col_minmax(d, "orders", "o_orderkey") == (1, 3)

    pq.write_table(
        pa.table({"o_orderkey": pa.array([5, 6, 7, 8])}), p
    )
    os.utime(p, ns=(os.stat(p).st_atime_ns, os.stat(p).st_mtime_ns + 1))
    assert table_rows(d, "orders") == 4
    assert table_col_minmax(d, "orders", "o_orderkey") == (5, 8)

    # directory tables (the Spark-written production layout) aggregate
    # over part files — and adding a fragment refreshes the cache
    dd = os.path.join(d, "lineitem.parquet")
    os.mkdir(dd)
    pq.write_table(
        pa.table({"k": pa.array([1, 2])}), os.path.join(dd, "p0.parquet")
    )
    (open(os.path.join(dd, "_SUCCESS"), "w")).close()
    assert table_rows(d, "lineitem") == 2
    assert table_col_minmax(d, "lineitem", "k") == (1, 2)
    pq.write_table(
        pa.table({"k": pa.array([7])}), os.path.join(dd, "p1.parquet")
    )
    assert table_rows(d, "lineitem") == 3
    assert table_col_minmax(d, "lineitem", "k") == (1, 7)

    # empty part files (Spark writes them routinely) must not disable
    # the stats — they carry no rows, so they cannot constrain bounds
    # (r10 review: the old flag conflated 'no row groups' with
    # 'stats missing' and returned None forever)
    pq.write_table(
        pa.table({"k": pa.array([], pa.int64())}),
        os.path.join(dd, "p2.parquet"),
    )
    assert table_rows(d, "lineitem") == 3
    assert table_col_minmax(d, "lineitem", "k") == (1, 7)

    # an ALL-empty table has no bounds: None, not a crash
    ee = os.path.join(d, "events.parquet")
    os.mkdir(ee)
    pq.write_table(
        pa.table({"k": pa.array([], pa.int64())}),
        os.path.join(ee, "p0.parquet"),
    )
    assert table_col_minmax(d, "events", "k") is None


def test_footer_rows_on_nested_and_fragmentless_layouts(tmp_path):
    """table_rows is value-bearing (q84/q94 corpus counts), so layouts
    the one-level listing missed must count correctly or fail loudly —
    never cache a silent 0 (r10 ADVICE).  Partitioned tables keep
    fragments under key=value subdirectories: the recursive listing
    finds them, like a real catalog's file listing.  A directory with
    NO parquet fragments raises instead of returning 0."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from mandoline_spark.queries import table_rows

    d = str(tmp_path)
    # partitioned layout: documents.parquet/lang=en/part-0.parquet
    dd = os.path.join(d, "documents.parquet")
    for part, rows in (("lang=en", [1, 2, 3]), ("lang=de", [4, 5])):
        os.makedirs(os.path.join(dd, part))
        pq.write_table(
            pa.table({"k": pa.array(rows)}),
            os.path.join(dd, part, "part-0.parquet"),
        )
    (open(os.path.join(dd, "_SUCCESS"), "w")).close()
    assert table_rows(d, "documents") == 5

    # fragmentless directory: loud failure, not a cached 0
    ee = os.path.join(d, "events.parquet")
    os.makedirs(os.path.join(ee, "nested"))
    (open(os.path.join(ee, "notes.txt"), "w")).close()
    with pytest.raises(FileNotFoundError):
        table_rows(d, "events")


def test_footer_minmax_tz_aware_takes_fallback(spark, tmp_path):
    """A UTC-adjusted (tz-aware) timestamp file's footer datetimes
    truncate to UTC midnights while the Spark fallback truncates in
    the SESSION timezone — so q90's footer gate must treat tz-aware
    stats as absent and take the aggregate fallback (r9 ADVICE).
    Pinned on a non-UTC session by comparing the gated query against
    the same data with statistics stripped (fallback forced): without
    the guard the two grids start a day apart."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    import mandoline_spark.queries as Q

    tzdir = tmp_path / "tzaware"
    nodir = tmp_path / "tzaware_nostats"
    tzdir.mkdir()
    nodir.mkdir()
    tbl = pq.read_table(f"{SF}/events.parquet")
    ts_utc = tbl.column("ts").cast(pa.timestamp("us", tz="UTC"))
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"), "ts", ts_utc
    )
    pq.write_table(tbl, str(tzdir / "events.parquet"))
    pq.write_table(
        tbl, str(nodir / "events.parquet"), write_statistics=False
    )
    for t in ("region nation customer supplier part orders lineitem "
              "documents embeddings").split():
        shutil.copy(f"{SF}/{t}.parquet", str(tzdir / f"{t}.parquet"))
        shutil.copy(f"{SF}/{t}.parquet", str(nodir / f"{t}.parquet"))

    # the raw footer stat IS tz-aware — the guard is load-bearing
    mm = Q.table_col_minmax(str(tzdir), "events", "ts")
    assert mm is not None and mm[0].tzinfo is not None
    assert Q.table_col_minmax(str(nodir), "events", "ts") is None

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Denver")
        gated = Q.QUERIES["q90_resample_ffill"](
            spark, str(tzdir)
        ).collect()
        forced = Q.QUERIES["q90_resample_ffill"](
            spark, str(nodir)
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert gated == forced


def test_small_read_rebalances_by_decompressed_volume(spark, tmp_path, monkeypatch):
    """The driver-funnel read path must rebalance by DECOMPRESSED bytes
    before its Arrow conversion once the touched volume is large
    (r8: scan splits pack by on-disk size, and zstd'd regular array
    data compresses 100-1000x, so 82% of the perf-shape full scan
    landed on one conversion task), and must NOT pay the exchange on a
    small read even when it touches >= cores chunks."""
    import numpy as np

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl
    from mandoline_spark.store import Store

    store = Store(spark, str(tmp_path / "rb_root"))
    conn = store.create_dataset("rb")
    t = conn.add_version(
        {
            "dimensions": {"x": 256},
            "chunk-dimensions": {"x": 4},
            "variables": {
                "v": {"type": "int", "shape": ["x"], "fill-value": 0}
            },
        }
    )
    writer.write_variable(
        conn, t, "v", [sb.empty("int", sl.mk_slice((0,), (256,)), 7)]
    )
    vid = conn.finish_version(t)
    token = reader.on_version(conn, vid)
    req = sl.mk_slice((0,), (256,))  # 64 chunks, 1 KiB — "small" volume
    _, touched = reader._touched_chunks(token, "v", req)

    plan_small = explain_str(
        reader._small_read_blobs_df(conn, token, "v", req, touched)
    )
    assert "hashpartitioning" not in plan_small.lower(), plan_small

    # same request pretending the touched volume is past the floor:
    # the plan must gain exactly the coordinate-keyed exchange
    monkeypatch.setattr(reader, "_REBALANCE_MIN_BYTES", 0)
    big = reader._decode_parallelism(conn, token, "v", req)
    assert big >= spark.sparkContext.defaultParallelism // 2 or big == 64
    plan_big = explain_str(
        reader._small_read_blobs_df(conn, token, "v", req, touched)
    )
    assert "hashpartitioning(c0" in plan_big.lower(), plan_big

    # and the rebalanced plan still reads correctly end-to-end
    got = reader.get_slice(conn, token, "v", req)
    assert np.array_equal(got.data, np.full(256, 7, dtype=np.int32))


def test_table_rows_empty_spark_table_is_zero(tmp_path):
    """A Spark-written EMPTY table is a directory holding only the
    _SUCCESS marker (zero part files): 0 is the correct count.  Any
    other fragmentless directory still raises loudly — table_rows is
    value-bearing in the corpus-count queries, and caching a silent 0
    for a layout the helper does not understand was the r10 ADVICE
    bug."""
    import os

    import pytest

    from mandoline_spark.queries import table_rows

    d = str(tmp_path)
    empty = os.path.join(d, "documents.parquet")
    os.makedirs(empty)
    open(os.path.join(empty, "_SUCCESS"), "w").close()
    assert table_rows(d, "documents") == 0

    junk = os.path.join(d, "events.parquet")
    os.makedirs(junk)
    open(os.path.join(junk, "notes.txt"), "w").close()
    with pytest.raises(FileNotFoundError):
        table_rows(d, "events")


def test_q91_partial_agg_sits_below_the_join(spark):
    """r13: q91's lineitem side must be pre-aggregated by l_orderkey
    BEFORE the orders join (partial aggregation below the join — the
    rewrite that cuts the dominant fact shuffle by the order fanout;
    Catalyst has no eager-aggregation rule, so only the declared plan
    guarantees it), and the fact join must be the hinted shuffled-hash
    join, not a sort-merge (the two sorts are the next data term at
    scale, BASELINE.md r13)."""
    q = QUERIES["q91_star_join"](spark, SF)
    plan = explain_str(q)
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the pre-join aggregate is keyed by l_orderkey and its partial
    # (map-side) half runs directly over the lineitem scan
    assert "Keys [1]: [l_orderkey" in plan, plan
    # r14: the partial sum accumulates in exact decimal (the half-cent
    # rounding-tie fix, queries.py rev_dec) — pin that too, so a future
    # "simplification" back to float sums fails here, not in the
    # driver's hash
    assert "partial_sum((cast(l_extendedprice" in plan, plan
    assert "as decimal(18,4)" in plan, plan


def test_q16_prefix_sum_is_two_phase_not_single_partition(spark):
    """r16 (VERDICT r15 #1): the global running sum must run as the
    two-phase per-bucket prefix sum — the running-sum Window is
    partitioned by the key-monotone bucket (never a whole-corpus
    SinglePartition window), the bucket exchange is shared by both
    branches (ReusedExchange — one scan, one full-data shuffle), and
    the per-bucket offsets attach through a broadcast join.  The sum
    accumulates in exact decimal so the two-phase re-association
    cannot flip a round(,2) tie (the rev_dec pattern)."""
    # explain with AQE off: exchange reuse is a static-plan property
    # there (ReusedExchange node); under AQE the same dedup happens at
    # runtime per canonical stage, but the pre-execution explain only
    # shows isFinalPlan=false
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = explain_str(QUERIES["q16_window_frame"](spark, SF))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # running-sum window is keyed by the bucket column
    assert "windowspecdefinition(_b" in plan, plan
    # ... and no window runs over the bare global key order (the
    # serial shape: windowspecdefinition(o_orderkey ASC ...))
    assert "windowspecdefinition(o_orderkey" not in plan, plan
    assert "ReusedExchange" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "as decimal(18,2)" in plan, plan


def test_q16_two_phase_matches_serial_reference(spark):
    """Value pin for the q16 rewrite: the bucketed prefix sum equals
    the single-partition serial window on the same decimal term,
    bit-for-bit (decimal accumulation is associative by construction;
    this is the A/B that makes the plan rewrite provably a no-op on
    results)."""
    from pyspark.sql import Window

    q = QUERIES["q16_window_frame"](spark, SF)
    got = [(r.o_orderkey, r.rs) for r in q.collect()]
    o = spark.read.parquet(f"{SF}/orders.parquet")
    w = Window.orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = (
        o.select(
            "o_orderkey",
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 2
            )
            .cast("double")
            .alias("rs"),
        )
        .orderBy("o_orderkey")
        .collect()
    )
    assert got == [(r.o_orderkey, r.rs) for r in ref]
