"""Composite operators (as-of join, range join, grouped top-k) vs
brute-force oracles, and the plan-inspection helpers that pin the
scale-critical plan properties."""

from __future__ import annotations

import contextlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mandoline_spark.operators import asof_join, range_join, topk_per_group
from mandoline_spark.plans import (
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
    wholestage_codegen_ids,
)


@pytest.fixture(scope="module")
def trades_quotes(spark):
    rng = np.random.default_rng(5)
    trades = pd.DataFrame(
        {
            "sym": rng.choice(["A", "B", "C"], 200),
            "t": np.sort(rng.integers(0, 1000, 200)),
            "qty": rng.integers(1, 100, 200),
        }
    )
    quotes = pd.DataFrame(
        {
            "sym": rng.choice(["A", "B", "C"], 300),
            # unique timestamps: tie order among duplicate right keys is
            # arbitrary in pandas (depends on its unstable sort), so it
            # is not a semantic to pin; left-side duplicates stay tested
            "t": np.sort(rng.choice(np.arange(2000), 300, replace=False)),
            "px": np.round(rng.uniform(10, 20, 300), 2),
        }
    )
    return spark.createDataFrame(trades), spark.createDataFrame(quotes), trades, quotes


def test_asof_join_matches_pandas(trades_quotes):
    tdf, qdf, trades, quotes = trades_quotes
    got = (
        asof_join(tdf, qdf, on="t", by="sym")
        .orderBy("sym", "t", "qty")
        .toPandas()
    )
    oracle = pd.merge_asof(
        trades.sort_values("t"),
        quotes.sort_values("t"),
        on="t",
        by="sym",
        suffixes=("", "_r"),
    ).rename(columns={"px": "px_r"}).sort_values(["sym", "t", "qty"]).reset_index(drop=True)
    got = got[oracle.columns]
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), oracle, check_dtype=False
    )


def test_asof_join_tolerance(trades_quotes):
    tdf, qdf, trades, quotes = trades_quotes
    got = (
        asof_join(tdf, qdf, on="t", by="sym", tolerance=10)
        .orderBy("sym", "t", "qty")
        .toPandas()
    )
    oracle = pd.merge_asof(
        trades.sort_values("t"),
        quotes.sort_values("t"),
        on="t",
        by="sym",
        tolerance=10,
        suffixes=("", "_r"),
    ).rename(columns={"px": "px_r"}).sort_values(["sym", "t", "qty"]).reset_index(drop=True)
    got = got[oracle.columns]
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), oracle, check_dtype=False
    )


def test_asof_join_tie_col_matches_preagg(spark):
    """``tie_col`` (r15, the q45 rewrite) must select, among duplicate
    right keys, exactly the row the old ``groupBy(by, on).agg(max(v))``
    pre-reduction produced — same matched value for every left row,
    with the pre-aggregation's hash exchange gone from the plan.
    Duplicate (sym, t) right rows are the whole point here, so the
    fixture forces heavy key collisions."""
    rng = np.random.default_rng(11)
    left = pd.DataFrame(
        {
            "sym": rng.choice(["A", "B"], 120),
            "t": np.sort(rng.integers(0, 60, 120)),
            "lid": range(120),
        }
    )
    right = pd.DataFrame(
        {
            "sym": rng.choice(["A", "B"], 400),
            # ~7 duplicates per (sym, t) on average
            "t": rng.integers(0, 60, 400),
            "v": rng.integers(0, 10_000, 400),
        }
    )
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    got = (
        asof_join(ldf, rdf, on="t", by="sym", tie_col="v")
        .orderBy("sym", "t", "lid")
        .toPandas()
    )
    preagg = rdf.groupBy("sym", "t").agg(F.max("v").alias("v"))
    want = (
        asof_join(ldf, preagg, on="t", by="sym")
        .orderBy("sym", "t", "lid")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True),
        want.reset_index(drop=True),
        check_dtype=False,
    )
    # the structural claim: tie_col's plan carries no aggregation
    from mandoline_spark.plans.inspect import explain_str

    plan = explain_str(asof_join(ldf, rdf, on="t", by="sym", tie_col="v"))
    assert "HashAggregate" not in plan


def test_range_join_matches_naive(spark):
    rng = np.random.default_rng(6)
    pts = pd.DataFrame({"pid": range(300), "x": rng.uniform(0, 100, 300)})
    starts = rng.uniform(0, 95, 40)
    ivs = pd.DataFrame(
        {
            "iid": range(40),
            "lo": starts,
            "hi": starts + rng.uniform(0.5, 10, 40),
        }
    )
    pdf, idf = spark.createDataFrame(pts), spark.createDataFrame(ivs)
    got = (
        range_join(pdf, idf, "x", "lo", "hi", bucket_width=5.0)
        .select("pid", "iid")
        .orderBy("pid", "iid")
        .toPandas()
    )
    naive = pts.merge(ivs, how="cross")
    naive = naive[(naive.lo <= naive.x) & (naive.x < naive.hi)][
        ["pid", "iid"]
    ].sort_values(["pid", "iid"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), naive, check_dtype=False)


def test_topk_per_group(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["x", "y"], 100),
            "v": rng.integers(0, 1000, 100),
            "id": range(100),
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        topk_per_group(df, ["g"], [F.col("v").desc(), F.col("id")], 5)
        .orderBy("g", F.col("v").desc(), "id")
        .toPandas()
    )
    oracle = (
        pdf.sort_values(["g", "v", "id"], ascending=[True, False, True])
        .groupby("g")
        .head(5)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True), oracle, check_dtype=False)


# -- plan inspection ----------------------------------------------------------

def test_pushdown_and_pruning_visible(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_partkey").between(100, 199)).select(
        "l_orderkey", "l_partkey"
    )
    pf = pushed_filters(q)
    assert any("l_partkey" in f and "GreaterThan" in f for f in pf), pf
    assert set(scan_read_schema(q)) == {"l_orderkey", "l_partkey"}
    assert wholestage_codegen_ids(q)


def test_broadcast_join_detected(spark):
    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert has_broadcast_join(j)


def test_salted_join_matches_plain_join(spark):
    from mandoline_spark.operators import salted_join

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    pt = (
        spark.read.parquet("/root/testdata/sf0.001/part.parquet")
        .select("p_partkey", "p_name")
        .withColumnRenamed("p_partkey", "l_partkey")
    )
    a = (
        salted_join(li, pt, "l_partkey")
        .agg(F.count("*").alias("c"), F.sum("l_quantity").alias("s"))
        .first()
    )
    b = (
        li.join(pt, "l_partkey")
        .agg(F.count("*").alias("c"), F.sum("l_quantity").alias("s"))
        .first()
    )
    assert (a["c"], float(a["s"])) == (b["c"], float(b["s"]))


# -- connected components (operators/graph.py) --------------------------------


@contextlib.contextmanager
def _broadcast_threshold(spark, value: str):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _spark_tier(spark):
    """Pin connected_components to its Spark tier: a broadcast
    threshold ≤ 0 turns its driver tier off."""
    return _broadcast_threshold(spark, "-1")


def _plan_root(df) -> str:
    """LocalRelation for the driver tier's labels, LogicalRDD for the
    Spark tier's checkpoint."""
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _cc_oracle(pairs) -> set:
    """(id, min id of its component) by union-find."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def _random_cc_graph(seed: int, lo: int, hi: int) -> list:
    """Shuffled edges of five cliques (sizes 2-5) and two chains
    (diameters 5 and 8) over distinct random ids in [lo, hi)."""
    rng = np.random.default_rng(seed)
    ids = [int(x) for x in np.unique(rng.integers(lo, hi, 200))]
    ids = [ids[i] for i in rng.permutation(len(ids))]
    pairs = []
    for size in (2, 3, 4, 5, 3):
        m, ids = ids[:size], ids[size:]
        pairs += [(m[i], m[j]) for i in range(size) for j in range(i + 1, size)]
    for length in (6, 9):
        m, ids = ids[:length], ids[length:]
        pairs += [(m[i], m[i + 1]) for i in range(length - 1)]
    return [pairs[i] for i in rng.permutation(len(pairs))]


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain (worst-case diameter), a triangle, and a 2-clique
    all label to their minimum member."""
    from mandoline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a long, b long",
    )
    got = {
        (r.id, r.cluster) for r in connected_components(edges).collect()
    }
    assert got == (
        {(i, 1) for i in (1, 2, 3, 4)}
        | {(i, 10) for i in (10, 11, 12)}
        | {(i, 20) for i in (20, 21)}
    )


def test_dedup_clusters_keep_longest(spark):
    from mandoline_spark.operators.graph import dedup_clusters

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5)],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    got = sorted(
        (r.cluster, r.keep_id, r.n_docs)
        for r in dedup_clusters(docs, pairs).collect()
    )  # the rows come back unordered
    # cluster 1 = {1,2,3}: longest are 2 and 3 (30 chars), tie -> id 2;
    # doc 4 is a singleton cluster of itself
    assert got == [(1, 2, 3), (4, 4, 1)]


def test_connected_components_long_chain_converges_or_raises(spark):
    """A 30-node chain needs ~29 propagation rounds: with enough
    iterations the labels are exact; with too few the operator must
    FAIL rather than silently return half-propagated labels."""
    import pytest

    from mandoline_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "a long, b long"
    )
    got = {
        (r.id, r.cluster)
        for r in connected_components(chain, max_iter=40).collect()
    }
    assert got == {(i, 1) for i in range(1, 31)}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """The cluster deployment path (r3 verdict item 3): with
    ``checkpoint_dir`` set, per-round lineage truncation uses reliable
    ``df.checkpoint()`` files (executor-loss tolerant) instead of
    unreplicated executor-local blocks.  Asserts the reliable path was
    actually exercised (checkpoint files exist under the dir) and the
    labels equal the localCheckpoint default's."""
    from mandoline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "a long, b long",
    )
    ckdir = str(tmp_path / "cc_ckpt")
    with _spark_tier(spark):
        got = {
            (r.id, r.cluster)
            for r in connected_components(edges, checkpoint_dir=ckdir).collect()
        }
        want = {
            (r.id, r.cluster) for r in connected_components(edges).collect()
        }
    assert got == want
    import os

    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckdir)
        for f in fs
    ]
    assert files, "no reliable checkpoint files were written"


def test_connected_components_frees_prior_round_blocks(spark):
    """At most two label snapshots live in block storage during the
    loop, and after it only the returned snapshot (+ any pre-existing
    persists) remains — the ADVICE r03 accumulation fix."""
    from mandoline_spark.operators.graph import connected_components

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "a long, b long"
    )
    with _spark_tier(spark):
        labels = connected_components(chain, max_iter=20)
        after = set(sc._jsc.getPersistentRDDs().keySet().toArray()) - before
        # ~11 rounds ran; without eager freeing each would leave a snapshot
        assert len(after) <= 2, f"leaked {len(after)} persisted RDDs"
        assert labels.count() == 12  # the survivor is still readable


def test_connected_components_concurrent_persist_survives(spark):
    """A concurrent thread persisting unrelated DataFrames while
    connected_components iterates must keep its caches: the per-round
    block freeing unpersists each checkpoint via its OWN RDD handle
    (r4's global persistent-RDD-set diff could capture and free an
    interleaved persist)."""
    import threading

    from pyspark import StorageLevel

    from mandoline_spark.operators.graph import connected_components

    stop = threading.Event()
    kept: list = []
    errs: list = []

    def churn():
        i = 0
        try:
            while not stop.is_set():
                df = spark.range(1000 + i).selectExpr("id", "id * 2 AS y")
                df.persist(StorageLevel.MEMORY_ONLY)
                df.count()
                kept.append(df)
                i += 1
        except Exception as e:  # surface thread failures in the assert
            errs.append(e)

    t = threading.Thread(target=churn, daemon=True)
    t.start()
    try:
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 12)], "a long, b long"
        )
        with _spark_tier(spark):
            got = {
                (r.id, r.cluster)
                for r in connected_components(edges).collect()
            }
    finally:
        stop.set()
        t.join(timeout=30)
    assert not errs, errs
    assert got == {(i, 1) for i in range(1, 13)}
    # every concurrently-persisted DataFrame still has live storage:
    # its RDD must still be in the session's persistent-RDD registry
    # (an RDD-level unpersist — what the old diff-based freeing did —
    # removes it there while df.storageLevel still reports MEMORY_ONLY)
    assert kept
    live = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert live >= len(kept), f"{live} persistent RDDs < {len(kept)} persists"
    for df in kept:
        assert df.storageLevel.useMemory, "concurrent persist was freed"
        df.unpersist()


def test_text_metrics_null_vs_empty(spark):
    """NULL text must yield NULL ratios (a missing doc is not a clean
    doc — ADVICE r4); empty string still scores 0.0."""
    from pyspark.sql import functions as F

    from mandoline_spark.functions.text import punct_ratio, stopword_ratio

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the cat!!")], "id long, text string"
    )
    rows = {
        r.id: (r.p, r.s)
        for r in df.select(
            "id",
            punct_ratio(F.col("text")).alias("p"),
            stopword_ratio(F.col("text")).alias("s"),
        ).collect()
    }
    assert rows[1] == (None, None)
    assert rows[2] == (0.0, 0.0)
    assert rows[3][0] > 0 and rows[3][1] == 0.5


def test_graph_operators_aqe_invariant_and_conf_untouched(spark, monkeypatch):
    """Connected components and dedup clusters give the same labels on
    an AQE-on session as on the shipped AQE-off one, and never write
    session conf: the SQL conf is identical before the call, at every
    round's checkpoint, and after it, including on the
    non-convergence raise path."""
    from mandoline_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )

    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (10, 7), (11, 9), (12, 1)],
        "doc_id long, n_chars long",
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a long, b long"
    )

    def confs():
        return {r.key: r.value for r in spark.sql("SET").collect()}

    def run_all():
        cc = {(r.id, r.cluster) for r in connected_components(edges).collect()}
        dc = sorted(
            (r.cluster, r.keep_id, r.n_docs)
            for r in dedup_clusters(docs, edges).collect()
        )
        return cc, dc

    assert old == "false"
    off = run_all()
    assert off[0] == {(i, 1) for i in (1, 2, 3, 4)} | {(10, 10), (11, 10)}
    assert off[1] == [(1, 2, 4), (10, 11, 2), (12, 12, 1)]

    during: list[dict] = []
    df_cls = type(edges)  # the concrete class, not the pyspark.sql ABC
    real = df_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        during.append(confs())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(df_cls, "localCheckpoint", spy)
    # the Spark tier, whose rounds the spy sees
    with _spark_tier(spark):
        try:
            spark.conf.set(key, "true")
            before = confs()
            assert before[key] == "true"
            assert run_all() == off
            # a 12-node chain cannot converge in 2 hops
            with pytest.raises(RuntimeError, match="did not converge"):
                connected_components(chain, max_iter=2)
            assert confs() == before
            assert during and all(c == before for c in during)
        finally:
            spark.conf.set(key, old)


def test_connected_components_composed_hops_label_and_count(spark):
    """The Spark tier composes two hops per round: the labels are the
    oracle's on chains, a triangle and an island pair, and ``max_iter``
    keeps counting SINGLE hops — a diameter-9 chain needs ~10 hops to
    settle its convergence signal, so max_iter=4 (two rounds) raises."""
    from mandoline_spark.operators.graph import connected_components

    pairs = [(i, i + 1) for i in range(9)] + [
        (20, 21), (21, 22), (20, 22), (30, 31)
    ]
    edges = spark.createDataFrame(pairs, "a long, b long")
    with _spark_tier(spark):
        got = {(r.id, r.cluster) for r in connected_components(edges).collect()}
        assert got == _cc_oracle(pairs)
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(9)], "a long, b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iter=4)


@pytest.mark.parametrize("aqe", ["false", "true"])
def test_connected_components_tiers_agree(spark, aqe):
    """The driver tier (a local relation) and the Spark tier (a
    checkpoint) give the same labels and schema on seeded random
    cliques and chains, with int32 and int64 ids, whatever the AQE
    setting and the input partitioning; edge sets with a null endpoint
    take the Spark tier and keep its labels."""
    from mandoline_spark.operators.graph import connected_components

    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, aqe)
    try:
        for typ, lo, hi, seed in (
            ("int", -(2**31), 2**31 - 1, 1),
            ("long", -(2**62), 2**62, 2),
        ):
            pairs = _random_cc_graph(seed, lo, hi)
            edges = spark.createDataFrame(pairs, f"a {typ}, b {typ}")
            with _spark_tier(spark):
                spk = connected_components(edges)
                want = {(r.id, r.cluster) for r in spk.collect()}
            assert _plan_root(spk) == "LogicalRDD"
            assert want == _cc_oracle(pairs)
            for e in (edges, edges.repartition(5)):
                drv = connected_components(e)
                assert _plan_root(drv) == "LocalRelation"
                assert drv.schema == spk.schema
                assert {(r.id, r.cluster) for r in drv.collect()} == want
            # a null endpoint sends the batch to the Spark tier
            nulls = spark.createDataFrame(
                pairs + [(pairs[0][0], None), (None, None)], f"a {typ}, b {typ}"
            )
            got = connected_components(nulls)
            assert _plan_root(got) == "LogicalRDD"
            with _spark_tier(spark):
                want = {
                    (r.id, r.cluster)
                    for r in connected_components(nulls).collect()
                }
            assert {(r.id, r.cluster) for r in got.collect()} == want
        # an empty edge set: no labels, the schema of the long graph's
        # Spark-tier result (spk, from the last loop pass)
        empty = spark.createDataFrame([], "a long, b long")
        drv = connected_components(empty)
        assert drv.collect() == [] and drv.schema == spk.schema
        with _spark_tier(spark):
            got = connected_components(empty)
        assert _plan_root(got) == "LogicalRDD"
        assert got.collect() == [] and got.schema == spk.schema
        small = spark.createDataFrame(
            [(1, 2), (2, None), (None, None)], "a long, b long"
        )
        assert {
            (r.id, r.cluster) for r in connected_components(small).collect()
        } == {(1, 1), (2, 1), (None, 1)}
    finally:
        spark.conf.set(key, old)


def test_connected_components_max_iter_raise_parity(spark):
    """Both tiers count hops the same way: the smallest ``max_iter``
    that converges on the driver tier is the smallest that converges on
    the Spark tier."""
    from mandoline_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "a long, b long"
    )

    def raises(m: int) -> bool:
        try:
            connected_components(chain, max_iter=m)
        except RuntimeError as e:
            assert "did not converge" in str(e)
            return True
        return False

    m = 1
    while raises(m):
        m += 1
    assert m > 1
    with _spark_tier(spark):
        assert raises(m - 1) and not raises(m)


def test_connected_components_raise_frees_its_blocks(spark, monkeypatch):
    """A Spark-tier run that raises, on non-convergence or on a failed
    round, leaves no persisted RDD behind: the edge cache and the last
    label snapshot are freed on every exit."""
    from mandoline_spark.operators.graph import connected_components

    sc = spark.sparkContext

    def persisted() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "a long, b long"
    )
    with _spark_tier(spark):
        before = persisted()
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iter=3)
        assert persisted() - before == set()

        df_cls = type(chain)
        real = df_cls.localCheckpoint
        calls: list = []

        def fail_second(self, *args, **kwargs):
            calls.append(1)
            if len(calls) == 2:
                raise RuntimeError("round failed")
            return real(self, *args, **kwargs)

        monkeypatch.setattr(df_cls, "localCheckpoint", fail_second)
        before = persisted()
        with pytest.raises(RuntimeError, match="round failed"):
            connected_components(chain, max_iter=20)
        assert persisted() - before == set()


def test_dedup_clusters_curation_graph_jobs(spark):
    """On a curation-sized pair graph (~170 edges in near-cliques)
    dedup_clusters runs its components on the driver: one edge collect,
    the label broadcast and the action.  Its rows are unordered, so no
    range sort adds a sampling job."""
    from mandoline_spark.operators.graph import dedup_clusters

    rng = np.random.default_rng(8)
    ids = [int(x) for x in rng.permutation(2000)]
    pairs: list = []
    while len(pairs) < 170:
        size = int(rng.integers(2, 6))
        m, ids = sorted(ids[:size]), ids[size:]
        pairs += [(m[i], m[j]) for i in range(size) for j in range(i + 1, size)]
    sizes = {i: int(rng.integers(10, 40)) for i in range(2000)}
    docs = spark.createDataFrame(
        sorted(sizes.items()), "doc_id long, n_chars long"
    )
    edges = spark.createDataFrame(pairs, "a long, b long")
    jobs = spark.sparkContext._jsc.sc().statusTracker()
    ids0 = set(jobs.getJobIdsForGroup(None))
    got = sorted(
        (r.cluster, r.keep_id, r.n_docs)
        for r in dedup_clusters(docs, edges).collect()
    )
    assert len(set(jobs.getJobIdsForGroup(None)) - ids0) <= 3
    label = dict(_cc_oracle(pairs))
    members: dict = {}
    for i in sizes:
        members.setdefault(label.get(i, i), []).append(i)
    want = sorted(
        (c, min(m, key=lambda i: (-sizes[i], i)), len(m))
        for c, m in members.items()
    )
    assert got == want


@pytest.mark.parametrize("over_cap", [False, True])
def test_connected_components_evaluates_edges_once(spark, over_cap):
    """The upstream edge plan runs once on either tier: over the cap,
    the Spark tier's rounds read the edge cache the gate's collect
    filled (a nondeterministic UDF counts the evaluations)."""
    from mandoline_spark.operators.graph import connected_components

    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    tick_udf = F.udf(tick, "long").asNondeterministic()
    edges = spark.range(40).select(
        tick_udf(F.col("id")).alias("a"), (F.col("id") % 7).alias("b")
    )
    # 240 B holds 10 label rows: under it the 40-edge graph is over cap
    with (
        _broadcast_threshold(spark, "240")
        if over_cap
        else contextlib.nullcontext()
    ):
        labels = connected_components(edges)
        got = {(r.id, r.cluster) for r in labels.collect()}
    assert _plan_root(labels) == ("LogicalRDD" if over_cap else "LocalRelation")
    assert got == _cc_oracle([(i, i % 7) for i in range(40)])
    assert acc.value == 40
