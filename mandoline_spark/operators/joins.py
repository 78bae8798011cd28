"""As-of join, range join, grouped top-k — as DataFrame compositions.

Scale shapes:
- as-of: union + single window pass (one shuffle on the ``by`` key),
  NOT a theta-join: the naive ``l.t >= r.t`` non-equi join is a
  broadcast-nested-loop at best and O(|L|x|R|) at worst; the union
  shape is O((|L|+|R|) log) with last-value carry-forward.
- range join: bucketize the point and explode each interval into the
  buckets it covers, so the join is EQUI on (key, bucket) and the
  residual interval predicate only filters within-bucket candidates.
- top-k per group: window row_number with a rank cutoff — map-side
  partial top-k happens in the sort, and only k rows per group survive
  the shuffle boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | None = None,
    tolerance: float | None = None,
    suffix: str = "_r",
    tie_col: str | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.on <= left.on`` (backward as-of; pandas ``merge_asof``
    semantics), optionally within ``tolerance`` and per ``by`` group.

    Right value columns come back suffixed; left rows with no match keep
    NULLs.  Ties on the key take the last right row in ``on`` order —
    or, with ``tie_col``, the right row with the GREATEST ``tie_col``
    value among equal keys.  ``tie_col`` makes duplicate-key resolution
    deterministic without a pre-aggregation: callers that previously
    reduced the right side with ``groupBy(by, on).agg(max(v))`` can pass
    the raw rows and ``tie_col=v`` instead, dropping that aggregation's
    hash exchange from the plan (the single window pass then performs
    the same max-selection for free in its existing sort — r15, the
    q45 rewrite; results identical by the window order argument below:
    the carried ``last()`` at equal ``on`` is the max-``tie_col`` row).
    Rows that tie on BOTH the key and ``tie_col`` break by a unique
    row id (``_seq2``), so one execution carries ONE well-defined row's
    OTHER value columns (ADVICE r15 — without it, callers with value
    columns beyond ``tie_col`` got an arbitrary carry on full ties).
    The id is ``monotonically_increasing_id``, which encodes the
    partition layout: the winner is fixed within an execution, not a
    function of the input alone, and may differ when the right side is
    partitioned differently (another plan, AQE setting or recompute).
    """
    lcols = left.columns
    rvals = [c for c in right.columns if c not in {on, by}]
    tag = "_is_left"
    seq_type = (
        right.schema[tie_col].dataType if tie_col is not None else "long"
    )
    l_t = left.select(
        *lcols,
        F.lit(1).alias(tag),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}")
          for c in rvals],
        F.col(on).alias("_t"),
        F.lit(None).cast(seq_type).alias("_seq"),
        *(
            [F.lit(None).cast("long").alias("_seq2")]
            if tie_col is not None
            else []
        ),
    )
    r_t = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols
          if c != by],
        *([F.col(by)] if by else []),
        F.lit(0).alias(tag),
        *[F.col(c).alias(f"{c}{suffix}") for c in rvals],
        F.col(on).alias("_t"),
        # duplicate-key ties resolve to the LAST right row in _seq
        # order: input order (pandas merge_asof semantics) by default,
        # greatest tie_col when the caller names one
        (
            F.col(tie_col)
            if tie_col is not None
            else F.monotonically_increasing_id()
        ).alias("_seq"),
        # unique final tiebreak for the tie_col path only: the default
        # path's _seq is already unique, so the extra 8-byte column
        # would be pure shuffle weight there
        *(
            [F.monotonically_increasing_id().alias("_seq2")]
            if tie_col is not None
            else []
        ),
    )
    # after the union, right rows sort before left rows at equal _t, so
    # the carried-forward last(right row) at a left row includes the
    # right row with exactly the same key
    unioned = l_t.unionByName(r_t.select(*l_t.columns))
    part = Window.partitionBy(by) if by else Window.partitionBy()
    order = ["_t", tag, "_seq"] + (["_seq2"] if tie_col is not None else [])
    w = part.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Carry the matched right row as ONE struct, not per-column
    # last(ignorenulls): per-column carry resurrects an OLDER row's
    # value wherever the matched row's value is NULL — pandas
    # merge_asof returns the matched row's NULL — and can stitch
    # different value columns from different right rows, with the
    # tolerance gate validating only the carried timestamp.  The
    # struct is non-null for every right row, so the row carries
    # atomically, NULL values included.
    rrow = F.when(
        F.col(tag) == 0,
        F.struct(
            F.col("_t").alias("_rt"),
            *[F.col(f"{c}{suffix}") for c in rvals],
        ),
    )
    carried = unioned.select(
        *unioned.columns,
        F.last(rrow, ignorenulls=True).over(w).alias("_m"),
    )
    out = carried.filter(F.col(tag) == 1)
    matched = F.col("_m").isNotNull()
    if tolerance is not None:
        matched = matched & (
            F.col("_t") - F.col("_m")["_rt"] <= F.lit(tolerance)
        )
    keep = [
        F.when(matched, F.col("_m")[f"{c}{suffix}"]).alias(f"{c}{suffix}")
        for c in rvals
    ]
    return out.select(*[F.col(c) for c in lcols], *keep)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    stop_col: str,
    bucket_width: float,
    by: str | None = None,
) -> DataFrame:
    """Inner join of point rows to interval rows with
    ``start <= point < stop`` (and equal ``by`` key if given), executed
    as an equi-join on bucket ids.

    ``bucket_width`` trades replication for selectivity: each interval
    row is replicated ceil(len/width)+1 times; each point probes exactly
    one bucket.  Pick width ≈ the median interval length."""
    pb = points.withColumn(
        "_bucket", F.floor(F.col(point_col) / F.lit(bucket_width))
    )
    ib = intervals.withColumn(
        "_bucket",
        F.explode_outer(
            F.sequence(
                F.floor(F.col(start_col) / F.lit(bucket_width)),
                F.floor(F.col(stop_col) / F.lit(bucket_width)),
            )
        ),
    )
    keys = ["_bucket"] + ([by] if by else [])
    out = pb.join(ib, keys).where(
        (F.col(start_col) <= F.col(point_col))
        & (F.col(point_col) < F.col(stop_col))
    )
    return out.drop("_bucket")


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
) -> DataFrame:
    """Top-k rows per group under ``order_by`` (ties broken by the
    given ordering; add a unique id column for determinism)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .drop("_rank")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to heavy key skew: the (large, skewed) left
    side gets a uniform random salt in [0, n_salt); the (smaller) right
    side is replicated once per salt value, so one hot key's rows spread
    over ``n_salt`` shuffle partitions instead of one straggler task.

    The engine session runs with AQE off, so its skew guards are
    explicit: this join for a hot join key, and ``max_df`` for hot
    shingles in the dedup pair emitters.  A user can turn AQE on for
    their own session; its skew-join split then handles moderate skew,
    but not a single key holding a double-digit percentage of the
    table, where even a split partition's sort/build side is dominated
    by one group.  Cost: right side is shuffled n_salt times its size.

    Join types preserving unmatched RIGHT rows are rejected: the right
    side is replicated per salt, so a right/full outer join would emit
    each unmatched right row ``n_salt`` times.
    """
    if how.replace("_", "").lower() in (
        "right", "rightouter", "full", "outer", "fullouter"
    ):
        raise ValueError(
            f"salted_join cannot preserve unmatched right rows "
            f"(how={how!r}): the replicated right side would emit "
            f"them n_salt times; salt the other side instead"
        )
    salted_l = left.withColumn(
        "_salt", (F.rand(seed=7) * n_salt).cast("int")
    )
    salted_r = right.withColumn(
        "_salt",
        F.explode_outer(F.sequence(F.lit(0), F.lit(n_salt - 1))),
    )
    return salted_l.join(salted_r, [on, "_salt"], how).drop("_salt")
