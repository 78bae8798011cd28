"""Distributed connected components — the dedup-cluster former.

Near-dup pair emitters (minhash/simhash/jaccard) produce EDGES; turning
them into "keep one document per duplicate cluster" requires the
connected components of that graph, with a deterministic cluster label
(the minimum member id).

Scale shape: iterative min-label propagation.  Each round is one
hash-shuffle join (neighbor labels) + one groupBy(min) — no driver-side
graph state, edges never leave the cluster.  Rounds needed equal the
graph diameter, and duplicate clusters are near-cliques (diameter ≤ 2-3
in practice) so convergence is a handful of rounds even at corpus
scale; ``max_iter`` bounds the pathological chain.  The per-round
convergence check is a scalar ``count`` — a control-plane signal, not a
data collect.  Each round is checkpointed to keep the plan O(1), and
the previous round's blocks are freed eagerly once its convergence
count has consumed them, so at most two label snapshots are live.

Fault tolerance: the default ``localCheckpoint`` stores blocks on
executors WITHOUT replication — fast, but an executor loss
mid-iteration kills the job unrecoverably.  On a real cluster pass
``checkpoint_dir`` (an HDFS/S3A path): rounds then use reliable
``df.checkpoint()`` files that survive executor loss, at the cost of
one write+read of the (small: id, cluster) label table per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    hops_per_job: int = 2,
) -> DataFrame:
    """(id, cluster) for every node in ``edges``, where ``cluster`` is
    the minimum node id reachable from ``id`` (deterministic canonical
    label).  Nodes appear once; isolated nodes don't exist by
    construction (an edge list has no degree-0 entries).

    ``checkpoint_dir``: when set, per-round lineage truncation uses
    reliable checkpoints under this directory (executor-loss tolerant —
    the 100 TB deployment path); when None, executor-local
    checkpoints (single-job local runs).  Results are identical.

    The operator reads and writes no session conf.  Its per-round plans
    are partitioned statically (the pre-partitioned edge cache plus
    ReuseExchange), so on a session a user runs with AQE on, every
    round pays AQE's re-plan cycle for no plan change and gives the
    same labels.

    Block freeing is per-handle: each round unpersists the PREVIOUS
    round's checkpoint through that checkpoint's own RDD (the
    ``LogicalRDD`` the eager checkpoint planted at the root of the
    returned DataFrame), so a concurrent thread persisting unrelated
    DataFrames on the same session can never be caught in the round's
    cleanup (the r4 global persistent-RDD-set diff could capture an
    interleaved persist)."""
    sc = edges.sparkSession.sparkContext
    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> tuple[DataFrame, object]:
        """Eagerly checkpoint ``df``; return (checkpointed df, the
        checkpoint's OWN RDD handle) so the previous round's blocks can
        be freed deterministically once their last consumer (the
        convergence count) has run.  The handle is the analyzed plan's
        root — a ``LogicalRDD`` wrapping exactly the block-backed RDD
        the checkpoint registered (verified: unpersisting it empties
        the session's persistent-RDD delta; ``df.rdd.unpersist()`` is
        a no-op on it, being a derived conversion RDD).  Reliable
        checkpoints register no persistent blocks — the handle's
        unpersist is then a harmless no-op and their files stay under
        ``checkpoint_dir`` for fault tolerance."""
        out = (
            df.checkpoint()
            if checkpoint_dir is not None
            else df.localCheckpoint()
        )
        return out, out._jdf.queryExecution().analyzed().rdd()

    def _free(handle: object) -> None:
        handle.unpersist(False)

    # Undirected edge list WITH SELF-LOOPS via a per-row explode —
    # ONE evaluation of the upstream plan (a union of the edge plan
    # with its reversal evaluates the whole upstream pair pipeline,
    # e.g. the full minhash/jaccard computation, TWICE inside the
    # cache materialization; measured ~1.4s per extra evaluation on
    # the declared q82 at sf0.1).  The self-loops make each round a
    # single join + min-agg: every node offers its label to its
    # neighbors AND itself, so no second labels join is needed to keep
    # a node's own label in play (the r4 shape paid join + agg + a
    # labels re-join per round).  The cache is pre-partitioned and
    # pre-sorted on the join key, so every round's sort-merge join
    # streams it with NO exchange and NO re-sort on the edge side —
    # only the (tiny) label table moves, plus the one unavoidable
    # groupBy(d) transpose exchange.
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("s"), F.col(dst).alias("d")),
                    F.struct(F.col(dst).alias("s"), F.col(src).alias("d")),
                    F.struct(F.col(src).alias("s"), F.col(src).alias("d")),
                    F.struct(F.col(dst).alias("s"), F.col(dst).alias("d")),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .distinct()
        .repartition(F.col("s"))
        .sortWithinPartitions("s")
        .cache()  # every round joins und: without this the upstream
        # pair pipeline would re-run once per iteration
    )
    # No eager materialization job: the first round's checkpoint job
    # fills the cache as it scans.  That job reads und through two
    # branches (the first-hop aggregate and the step join), but the
    # block manager's per-partition write lock serializes a partition's
    # first computation — the second consumer blocks and reads the
    # cached block, so the upstream pair pipeline still executes once.
    # A separate count() here spent a whole extra job traversal
    # (~0.1-0.3s at sf0.1, one more scheduling round-trip per CC call
    # on a cluster) purely to pre-fill the cache.
    from pyspark.sql import Observation

    # Convergence signal: labels only ever DECREASE, so the exact sum
    # of all labels is strictly monotone until fixpoint — equal sums
    # across rounds ⟺ converged.  decimal(38,0): exact (a double sum
    # could alias two different label states) and unoverflowable
    # (≤ 1e12 nodes × 9e18 max id < 1e38 precision).
    _sum = F.sum(F.col("cluster").cast("decimal(38,0)")).alias("s")

    def _step(lbl: DataFrame) -> DataFrame:
        # one join + one min-agg: each node's new label is the minimum
        # label over its neighborhood INCLUDING itself (self-loops)
        return (
            und.join(lbl, und.s == lbl.id)
            .select(F.col("d").alias("id"), "cluster")
            .groupBy("id")
            .agg(F.min("cluster").alias("cluster"))
        )

    # No separate identity-labels materialization: with label(x) = x,
    # hop 1 is simply min(s) grouped by d over the self-looped edge
    # list, and the identity sum the convergence test needs is the sum
    # of the group KEYS of that same aggregate — both observations ride
    # the first materialization, saving one checkpoint job per call.
    first_hop = (
        und.groupBy(F.col("d").alias("id"))
        .agg(F.min("s").alias("cluster"))
    )
    obs0 = Observation()
    first_hop = first_hop.observe(
        obs0, F.sum(F.col("id").cast("decimal(38,0)")).alias("ids")
    )

    labels = None
    label_handle = None
    prev_sum = None
    converged = False
    # ``hops_per_job`` propagation steps per materialization (default
    # 2): the per-round cost at small/medium graph sizes is dominated
    # by the checkpoint job launch, not the joins, and composing steps
    # into one plan divides the job count (labels propagate k hops per
    # job; the convergence check sees the composed state, costing at
    # most k-1 redundant hops after fixpoint).  max_iter still counts
    # SINGLE hops, so the diameter contract is unchanged.  r13 measured
    # 3-vs-2 flat at sf0.1 (floor-dominated); the r16 sf1 A/B
    # (PROBE_CC_HOPS_SF1_r16.json) settles the knob at data scale.
    # checkpoint (not cache) each round: caching materializes the
    # DATA but the logical plan still nests every earlier round, so by
    # ~25 rounds the planner itself OOMs the driver (observed on a
    # 30-node chain).  Checkpointing truncates the lineage to the
    # materialized blocks — plan size stays O(1) per round.
    if hops_per_job < 1:
        raise ValueError(f"hops_per_job must be >= 1: {hops_per_job}")
    for it in range(0, max_iter, hops_per_job):
        obs = Observation()
        # first_hop already embodies one propagation step, so the
        # opening round composes one fewer _step
        cand = first_hop if it == 0 else labels
        for _ in range(hops_per_job - (1 if it == 0 else 0)):
            cand = _step(cand)
        cand = cand.observe(obs, _sum)
        new_labels, new_handle = _ckpt(cand)
        cur_sum = obs.get["s"]
        if it == 0:
            prev_sum = obs0.get["ids"]  # identity-label sum
        if label_handle is not None:
            # the checkpoint job was the last consumer of the
            # previous round's blocks — free them now; at most two
            # snapshots are ever live (a localCheckpoint is
            # unreadable once freed, so this must stay AFTER the
            # materialization)
            _free(label_handle)
        labels, label_handle = new_labels, new_handle
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    und.unpersist()
    if not converged:
        # partial labels are silently WRONG (a path longer than
        # max_iter hasn't finished propagating its minimum) — fail
        # loudly; callers with genuinely deep graphs raise max_iter
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "rounds; the graph has a component with a longer diameter "
            "— raise max_iter"
        )
    return labels


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    hops_per_job: int = 2,
) -> DataFrame:
    """Assign every document to a duplicate cluster and pick its
    canonical representative: cluster = min reachable id over the
    near-dup pair graph (singletons cluster with themselves), keep =
    the member with the largest ``size_col`` (ties to the smallest id)
    — "keep the longest copy" is the standard curation rule.  Returns
    (cluster, keep_id, n_docs).  ``checkpoint_dir``: see
    :func:`connected_components` (pass on clusters)."""
    cc = connected_components(
        pairs,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        hops_per_job=hops_per_job,
    )
    labeled = docs.select(
        F.col(id_col).alias("id"), F.col(size_col).alias("_sz")
    ).join(cc, "id", "left")
    labeled = labeled.withColumn(
        "cluster", F.coalesce("cluster", F.col("id"))
    )
    return (
        labeled.groupBy("cluster")
        .agg(
            F.min(
                F.struct(
                    # NULL size must LOSE, not win: a NULL first field
                    # sorts before every value in struct ordering, so a
                    # doc with unknown length would otherwise always be
                    # chosen over the genuinely longest member
                    F.coalesce(
                        -F.col("_sz").cast("long"),
                        F.lit((1 << 63) - 1),
                    ).alias("_neg"),
                    F.col("id").alias("id"),
                )
            )["id"].alias("keep_id"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("cluster")
    )
