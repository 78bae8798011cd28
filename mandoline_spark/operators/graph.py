"""Connected components — the dedup-cluster former.

Near-dup pair emitters (minhash/simhash/jaccard) produce EDGES; turning
them into "keep one document per duplicate cluster" requires the
connected components of that graph, with a deterministic cluster label
(the minimum member id).  :func:`dedup_clusters` then groups every
document under its label and picks the one to keep; its rows come back
unordered, since at corpus scale they are written out, not presented
(a caller that presents them sorts them itself, as q83 does).

Two tiers, one contract.  Both run min-label propagation over the same
self-looped undirected edge cache (``und``) with the same hop counting
and convergence test, so they give the same labels and raise on the
same ``max_iter``.

- **Driver tier.**  One bounded job collects at most ``cap + 1`` rows
  of ``und`` as Arrow.  When the whole edge set came back (≤ ``cap``
  rows, integral ids, no null endpoint) the rounds run in numpy and the
  labels return to Spark as a local relation small enough for the
  downstream join to broadcast (``cap`` is derived from
  ``spark.sql.autoBroadcastJoinThreshold``; see
  :func:`connected_components`).  Near-dup graphs at curation scale are
  a few hundred edges, so this tier replaces every propagation round
  with that one collect.
- **Spark tier** (graphs over the cap, non-integral ids, null
  endpoints, or a threshold ≤ 0).  Each round is one hash-shuffle join
  (neighbor labels) + one groupBy(min) over the cached ``und``; no
  driver-side graph state.  Rounds needed equal the graph diameter, and
  duplicate clusters are near-cliques (diameter ≤ 2-3 in practice) so
  convergence is a handful of rounds even at corpus scale; ``max_iter``
  bounds the pathological chain.  The per-round convergence check is a
  scalar sum — a control-plane signal, not a data collect.  Each round
  is checkpointed to keep the plan O(1), and the previous round's
  blocks are freed eagerly once its convergence sum has consumed them,
  so at most two label snapshots are live; ``und`` and any unreturned
  snapshot are freed on every exit, the raise paths included.

Fault tolerance (Spark tier): the default ``localCheckpoint`` stores
blocks on executors WITHOUT replication — fast, but an executor loss
mid-iteration kills the job unrecoverably.  On a real cluster pass
``checkpoint_dir`` (an HDFS/S3A path): rounds then use reliable
``df.checkpoint()`` files that survive executor loss, at the cost of
one write+read of the (small: id, cluster) label table per round.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, functions as F, types as T

# Catalyst's size estimate of the driver tier's (id, cluster) local
# relation, per row: 8 B of row overhead + each column's default size.
# Measured on Spark 4.1: a 1,000-row (long, long) relation estimates
# 24,000 B and an (int, int) one 16,000 B; the long figure bounds every
# integral id type.
_LABEL_ROW_BYTES = 24

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# Propagation hops per round.  A round's cost on small and medium graphs
# is its checkpoint job's launch, not its joins, so composing hops
# divides the job count; the convergence test sees the composed state
# and pays at most one redundant hop after the fixpoint.  2 beat 3 at
# sf1 (q82 median 64.3 vs 84.1 s, 5 vs 6 jobs;
# PROBE_CC_HOPS_SF1_r16.json), and the two were flat at sf0.1.
_HOPS = 2


def _not_converged(max_iter: int) -> RuntimeError:
    # partial labels are silently WRONG (a path longer than max_iter
    # hasn't finished propagating its minimum) — fail loudly; callers
    # with genuinely deep graphs raise max_iter
    return RuntimeError(
        f"connected_components did not converge in {max_iter} "
        "rounds; the graph has a component with a longer diameter "
        "— raise max_iter"
    )


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, cluster) for every node in ``edges``, where ``cluster`` is
    the minimum node id reachable from ``id`` (deterministic canonical
    label).  Nodes appear once; isolated nodes don't exist by
    construction (an edge list has no degree-0 entries).

    Tiers: the driver tier runs when ``und`` (the self-looped,
    undirected, distinct edge set — about 2·edges + nodes rows) has at
    most ``cap = spark.sql.autoBroadcastJoinThreshold // 24`` rows,
    integral ids and no null endpoint; 24 B is the measured Catalyst
    estimate per (id, cluster) row, so the label relation it returns
    stays within the threshold and a join against it broadcasts (the
    default 10 MiB gives a cap of 436,906 rows).  One job collects at
    most ``cap + 1`` rows of the ``und`` cache; over the cap, the Spark
    tier's rounds read the cache that job filled, so the upstream edge
    plan is evaluated once either way.  A threshold ≤ 0 always runs the
    Spark tier.  Both tiers give the same labels and the same schema
    (``int`` edge columns give ``struct<id:int,cluster:int>``), run
    :data:`_HOPS` hops per round with the same convergence test, and
    raise on the same ``max_iter``.

    ``checkpoint_dir``: when set, the Spark tier's per-round lineage
    truncation uses reliable checkpoints under this directory
    (executor-loss tolerant — the 100 TB deployment path); when None,
    executor-local checkpoints (single-job local runs).  Results are
    identical.

    The operator writes no session conf; the broadcast threshold is
    the one it reads.  The Spark tier's per-round plans are partitioned
    statically (the pre-partitioned edge cache plus ReuseExchange), so
    on a session a user runs with AQE on, every round pays AQE's
    re-plan cycle for no plan change and gives the same labels.

    Block freeing is per-handle: each round unpersists the PREVIOUS
    round's checkpoint through that checkpoint's own RDD (the
    ``LogicalRDD`` the eager checkpoint planted at the root of the
    returned DataFrame), so a concurrent thread persisting unrelated
    DataFrames on the same session can never be caught in the round's
    cleanup (the r4 global persistent-RDD-set diff could capture an
    interleaved persist)."""
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
    # pre-sorted on the join key, so every Spark-tier round's
    # sort-merge join streams it with NO exchange and NO re-sort on
    # the edge side — only the (tiny) label table moves, plus the one
    # unavoidable groupBy(d) transpose exchange.
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
        .cache()  # the gate's collect and every round read und:
        # without this the upstream pair pipeline would re-run per read
    )
    try:
        labels = _driver_components(und, max_iter)
        if labels is None:
            labels = _spark_components(und, max_iter, checkpoint_dir)
        return labels
    finally:
        # both tiers' results are independent of und (a local relation
        # or a checkpoint), so it is freed on every exit
        und.unpersist()


def _driver_components(und: DataFrame, max_iter: int) -> DataFrame | None:
    """The driver tier: (id, cluster) as a local relation, or None when
    ``und`` is over the cap, has non-integral ids or a null endpoint
    (the Spark tier then runs; its null-endpoint labels are kept as
    they are).  The collect computes every partition of the ``und``
    cache in full (a cached partition is materialized whole before the
    per-partition ``limit`` reads it), so an over-cap Spark tier finds
    the cache filled; that job's exchange carries at most
    ``min(rows, partitions · (cap + 1))`` rows."""
    spark = und.sparkSession
    cap = (
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        // _LABEL_ROW_BYTES
    )
    typ = und.schema["d"].dataType
    if cap <= 0 or not isinstance(typ, _INTEGRAL):
        return None
    tbl = und.limit(cap + 1).toArrow()
    if tbl.num_rows > cap or tbl.column("d").null_count:
        return None
    # dense node indices in id order: the minimum index IS the minimum
    # id.  Every node has a self-loop, so it appears in ``d``, and
    # grouping the rows by ``d`` gives one reduceat segment per node.
    nodes, di = np.unique(tbl.column("d").to_numpy(), return_inverse=True)
    si = np.searchsorted(nodes, tbl.column("s").to_numpy())
    order = np.argsort(di)
    nbr = si[order]
    starts = np.searchsorted(di[order], np.arange(len(nodes)))
    lab = np.arange(len(nodes))
    converged = False
    # the Spark tier's rounds: ``_HOPS`` hops each, converged when a
    # round leaves the labels unchanged.  Labels only decrease, so
    # unchanged arrays ⟺ equal label sums (the Spark test).
    for _ in range(0, max_iter, _HOPS):
        prev = lab
        for _ in range(_HOPS):
            lab = np.minimum.reduceat(lab[nbr], starts)
        if np.array_equal(lab, prev):
            converged = True
            break
    if not converged:
        raise _not_converged(max_iter)
    return spark.createDataFrame(
        pa.table({"id": nodes, "cluster": nodes[lab]}),
        schema=T.StructType(
            [T.StructField("id", typ), T.StructField("cluster", typ)]
        ),
    )


def _spark_components(
    und: DataFrame, max_iter: int, checkpoint_dir: str | None
) -> DataFrame:
    """The Spark tier: checkpointed min-label propagation rounds over
    the cached ``und``."""
    sc = und.sparkSession.sparkContext
    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> tuple[DataFrame, object]:
        """Eagerly checkpoint ``df``; return (checkpointed df, the
        checkpoint's OWN RDD handle) so the previous round's blocks can
        be freed deterministically once their last consumer (the
        convergence sum) has run.  The handle is the analyzed plan's
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

    # No eager materialization job: the first round's checkpoint job
    # fills the cache as it scans (unless the driver tier's collect
    # already did).  That job reads und through two branches (the
    # first-hop aggregate and the step join), but the block manager's
    # per-partition write lock serializes a partition's first
    # computation — the second consumer blocks and reads the cached
    # block, so the upstream pair pipeline still executes once.

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
    # ``_HOPS`` propagation steps per materialization (see _HOPS);
    # max_iter still counts SINGLE hops, so the diameter contract is
    # unchanged.
    # checkpoint (not cache) each round: caching materializes the
    # DATA but the logical plan still nests every earlier round, so by
    # ~25 rounds the planner itself OOMs the driver (observed on a
    # 30-node chain).  Checkpointing truncates the lineage to the
    # materialized blocks — plan size stays O(1) per round.
    try:
        for it in range(0, max_iter, _HOPS):
            obs = Observation()
            # first_hop already embodies one propagation step, so the
            # opening round composes one fewer _step
            cand = first_hop if it == 0 else labels
            for _ in range(_HOPS - (1 if it == 0 else 0)):
                cand = _step(cand)
            cand = cand.observe(obs, _sum)
            new_labels, new_handle = _ckpt(cand)
            cur_sum = obs.get["s"]
            if it == 0:
                # identity-label sum.  A None label sum (no labels, or
                # null ids only) has converged; obs0 is not read then,
                # because AQE replaces an empty plan and drops its
                # observation
                prev_sum = None if cur_sum is None else obs0.get["ids"]
            if label_handle is not None:
                # the checkpoint job was the last consumer of the
                # previous round's blocks — free them now; at most two
                # snapshots are ever live (a localCheckpoint is
                # unreadable once freed, so this must stay AFTER the
                # materialization)
                _free(label_handle)
            labels, label_handle = new_labels, new_handle
            if cur_sum == prev_sum:
                label_handle = None  # the returned snapshot stays live
                return labels
            prev_sum = cur_sum
        raise _not_converged(max_iter)
    finally:
        # a raise (no convergence, or a failed round) returns no
        # snapshot, so the last one is freed here
        if label_handle is not None:
            _free(label_handle)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Assign every document to a duplicate cluster and pick its
    canonical representative: cluster = min reachable id over the
    near-dup pair graph (singletons cluster with themselves), keep =
    the member with the largest ``size_col`` (ties to the smallest id)
    — "keep the longest copy" is the standard curation rule.  Returns
    (cluster, keep_id, n_docs), one row per cluster, in no particular
    order: the output is one row per document at worst, and a range
    sort of it would add a sampling job and a range exchange that a
    write does not need.  ``checkpoint_dir``: see
    :func:`connected_components` (pass on clusters)."""
    cc = connected_components(
        pairs, max_iter=max_iter, checkpoint_dir=checkpoint_dir
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
    )
