"""Document deduplication operators: exact, n-gram Jaccard, MinHash-LSH,
SimHash.  All hot-path expressions are JVM-side (split/transform/
xxhash64/bitwise aggregates) — no Python in any per-token loop.

Scale shapes:
- exact: groupBy(md5) — one shuffle of (hash, id).
- n-gram Jaccard: inverted index on shingle hashes.  By default each
  doc posts only its threshold prefix of sorted hashes (prefix
  filtering) and candidates are verified exactly; `max_df` instead
  posts every gram and drops stop-shingles so hot keys can't explode
  the join (the classic skew guard).
- MinHash-LSH: the k-permutation signature is computed per document in a
  SINGLE projection over the gram array (one `aggregate` pass carrying k
  running minima) — no explode, no shuffle, nothing leaves the input
  partition until the (tiny) banded candidate self-join.  Candidates are
  verified with exact Jaccard via `array_intersect` on the two docs'
  gram sets — O(candidates), never O(corpus²).
- SimHash: 64 bitwise-majority votes folded in the same single-pass
  aggregate shape; near-dup = small hamming distance, banded by
  pigeonhole slices.

Why single-projection signatures matter at 100 TB: the former
explode → distinct → groupBy(id) shape shuffles one row per (doc,
shingle) — ~50x the corpus — before aggregating it right back to one
row per doc.  The aggregate-over-array shape reads a doc, emits a
signature, and touches the shuffle only for banded candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

# Prime just under 2^31 (the one Spark MLlib's MinHashLSH uses): keeps
# every affine-map product under 2^62, so the arithmetic stays in int64
# under ANSI mode with no overflow.
_PRIME = 2038074743


def gram_array(words: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a words-array column NAME.

    ``concat_ws`` over ``get`` (0-based; NULL past the end, skipped by
    concat_ws) yields full n-grams plus DuckDB's partial-gram behavior
    for texts shorter than n.  ``get`` and not ``element_at``:
    element_at THROWS on out-of-bounds under ANSI mode (Spark 4
    default), so a single <n-word document would fail the job.
    ``words`` must name a materialized column attribute, not an inline
    split(...) expression: an expression referenced inside a
    higher-order-function lambda is re-evaluated PER ELEMENT, so
    inlining the split makes gram construction O(len²) (~6x slower
    measured at sf0.1).

    The whole pipeline is ONE parsed SQL expression: building it from
    pyspark function calls costs ~60 py4j round-trips (one per nested
    call/lambda), paid at every plan construction; a single ``expr``
    parse is one round-trip for the identical Catalyst tree.
    """
    return F.expr(f"array_distinct({_grams_sql(words, n)})")


def _grams_sql(words: str, n: int) -> str:
    """The word n-grams of ``words`` as SQL, repeats kept: the one
    builder behind :func:`gram_array` and :func:`_gram_hash_col`."""
    gets = ", ".join(f"get({words}, i + {j})" for j in range(n))
    return (
        f"filter(transform(sequence(0, greatest(size({words}) - {n}, 0)),"
        f" i -> concat_ws(' ', {gets})), g -> length(g) > 0)"
    )


def _doc_words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _words): the corpus hash-partitioned by id and split into
    words in place (see :func:`doc_gram_hashes`)."""
    return df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), r"\s+").alias("_words"),
    )


def _gram_hash_col(n: int) -> Column:
    """The distinct gram-hash set of the ``_words`` column: the grams
    of :func:`gram_array`, hashed before the distinct."""
    return F.expr(
        f"array_distinct(transform({_grams_sql('_words', n)},"
        f" g -> xxhash64(g)))"
    )


def doc_gram_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """One row per document: (id, ghashes array<long>) — the distinct
    64-bit gram-hash SET, in one fused expr (split → grams → xxhash64 →
    distinct).  The signature/banding/Jaccard pipelines never need the
    gram STRINGS: hashing first makes the per-doc distinct run over
    fixed-width longs instead of ~30-char strings, and set
    intersections downstream compare longs.  Hash collisions merge two
    grams — the same d²/2^65 bound documented on ngram_jaccard_pairs.

    The corpus is hash-partitioned by id (one exchange of the raw text,
    balanced because ids are unique) into the session's shuffle
    partitions: it spreads the CPU-bound per-doc work over that many
    tasks however few files the corpus arrives in (``get_spark`` sets
    those partitions to the core count; bench.py sizes them down to 8
    for its small scale), and every later exchange on id uses the same
    count, so a join on id (:func:`_verify_jaccard` reuses this
    exchange) shuffles only its other side.
    The two-step select is load-bearing: the split result materializes
    in its own Project, and the sig UDF downstream consumes a plain
    attribute (a fused single expression collapses into the pandas
    UDF's argument and trips ExtractPythonUDFs' codegen)."""
    return _doc_words(df, text_col, id_col).select(
        "id", _gram_hash_col(n).alias("ghashes")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = None,
    round_to: int | None = 6,
    ordered: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b, jac ≥ threshold).
    ``threshold`` is coerced to a plain Python float before SQL
    interpolation — a numpy scalar's repr under numpy 2.x
    ('np.float64(0.5)') would not parse (ADVICE r8).

    Default path (``max_df=None``): prefix filtering (Bayardo, Ma &
    Srikant, WWW 2007; in parallel as in Vernica, Carey & Li, SIGMOD
    2010).  Under one total order of the gram hashes, two sets with
    J ≥ t share a gram among the first ``|x| - ceil(t·|x|) + 1`` of
    each, so every doc posts only its ``size - floor(t·size) + 1``
    smallest hashes (``floor``: float rounding can only lengthen the
    prefix), and :func:`_verify_jaccard` computes the candidates' exact
    Jaccard: the pairs and ``jac`` of the full inverted index, with
    about a fifth of its posting rows at t = 0.8.

    ``max_df`` (drop shingles occurring in more than max_df docs)
    bounds join fan-out at scale without affecting high-similarity
    pairs; that path posts EVERY gram, since document frequency is a
    count over all posting rows, and sizes are the post-drop ones.
    The per-doc sizes attach BELOW the posting collection, through one
    join on id that the planner broadcasts while their size estimate
    fits ``spark.sql.autoBroadcastJoinThreshold`` (0.40 MB for the
    sf0.1 corpus, 4.06 MB for sf1) and sort-merges above it, or when
    the input has no size estimate.  Each posting entry then carries
    its doc's post-drop size, which (a) lets the pair emitter drop
    size-band-impossible pairs before they ever reach the pair
    exchange — ``jac <= min(na,nb)/max(na,nb)``, so a pair with
    ``min < t*max - 1`` provably fails the threshold (the -1 integer
    slack keeps exact-boundary pairs) — and (b) leaves no join on the
    pair stream, since na/nb ride the pair rows as
    functionally-dependent grouping keys.

    The posting shuffle is keyed on the 64-bit xxhash of each shingle,
    not the shingle string — 8 bytes per key instead of ~3 words of
    text.  A hash collision merges two grams and can only inflate
    ``common`` for pairs holding both; with d distinct shingles the
    expected number of colliding shingle pairs is d²/2^65 (< 1 up to
    ~6e9 distinct shingles)."""
    # coerced BEFORE the branch bodies interpolate it into SQL
    threshold = float(threshold)
    # Hash-level gram sets (see doc_gram_hashes): the posting key and
    # the set sizes never need the gram strings.
    dgh = doc_gram_hashes(df, text_col, id_col, n)
    # Posting-list pair generation: ONE shuffle of the exploded shingles
    # (groupBy gram), then each posting list emits its a<b pairs
    # JVM-side, incrementally (see _pairs_from_posts).  The classic
    # a-join-b inverted-index self-join shuffles the same rows twice AND
    # re-runs the whole gram pipeline per branch (Catalyst can't reuse
    # the exchange across the join's alias renames).  Posting-list
    # length is the quadratic guard — cap it with ``max_df`` at scale.
    if max_df is None:
        prefix = dgh.select(
            "id",
            F.explode_outer(
                F.expr(
                    "slice(array_sort(ghashes), 1, CAST(greatest(size(ghashes)"
                    f" - floor({threshold!r} * size(ghashes)) + 1, 0) AS INT))"
                )
            ).alias("gram"),
        ).where(F.col("gram").isNotNull())
        cand = _posting_pairs(prefix, ["gram"], [])
        words = _doc_words(df, text_col, id_col)
        out = _verify_jaccard(cand, words, n, threshold, round_to)
    else:
        # A gram's per-bucket row count IS its document frequency (one
        # distinct row per (id, gram)), so the stop-shingle drop is a
        # pre-collect window count on the posting exchange's own hash
        # distribution — no separate df-count shuffle, no anti-join
        # back onto the exploded stream (the r2 shape paid both:
        # measured +22% on the declared q37), and no hot posting array
        # ever materializes (ADVICE r03).  `surv` (the surviving
        # exploded rows) is built ONCE and consumed by BOTH the pair
        # pipeline and the size recount below; the two subtrees are
        # the same object, so ReuseExchange serves both from one gram
        # exchange — the whole corpus-scale gram pipeline runs once.
        surv = (
            dgh.select("id", F.explode_outer("ghashes").alias("gram"))
            .where(F.col("gram").isNotNull())
            .selectExpr(
                "*",
                "count(1) OVER (PARTITION BY gram) AS _bsz",
            )
            .where(f"_bsz <= {max_df}")
            .drop("_bsz")
        )
        # Post-drop set sizes recounted straight off the surviving
        # rows — |docs|-scale output from a pre-pair-explosion input.
        # The r8.0 fused shape derived sizes from self-pair markers
        # INSIDE the pair aggregation instead: that forced doubled
        # (directed) pair emission so a window over x could attach
        # sizes join-free, and pushed 2x the pairs through THREE
        # exchanges (emit, window, regroup).  Recounting here reads
        # the reused gram exchange once more (window + a small agg)
        # and lets the pair side emit the upper triangle only — at
        # sf0.1 the swap measured 1.45s -> 0.9s end-to-end.
        sizes = surv.groupBy("id").agg(F.expr("count(*) AS _sz"))
        # Sizes ride the posting entries (see the docstring); the
        # emitter's prune min*1.0 < t*max - 1 is exact because sizes
        # are ints: a dropped pair has jac <= min/max < t - 1/max < t.
        surv = surv.join(sizes, "id")
        # min_size=2 applies to the PAIR side only (singleton grams
        # emit no pairs but DO count toward their doc's set size — the
        # sizes recount above runs before the length filter).
        posts = (
            surv.groupBy("gram")
            .agg(F.expr("sort_array(collect_list(struct(id, _sz))) AS _ids"))
            .where("size(_ids) >= 2")
        )
        # Upper-triangle emission off the sorted lists (sort_array
        # ⇒ a < b canonically); incremental O(L) tail slices as in
        # _pairs_from_posts, single-expr construction (each nested
        # pyspark call is a py4j round-trip; one SQL parse is one).
        common = (
            posts.select("_ids", F.posexplode("_ids").alias("_i", "_x"))
            .selectExpr(
                "explode_outer(transform(filter("
                " slice(_ids, _i + 2, greatest(size(_ids) - _i - 1, 0)),"
                f" y -> least(_x._sz, y._sz) * 1.0D >="
                f" {threshold!r} * greatest(_x._sz, y._sz) - 1.0D),"
                " y -> named_struct('a', _x.id, 'b', y.id,"
                " 'na', _x._sz, 'nb', y._sz))) AS _p"
            )
            .where("_p IS NOT NULL")
            .selectExpr("_p.a AS a", "_p.b AS b", "_p.na AS na", "_p.nb AS nb")
            .groupBy("a", "b", "na", "nb")
            .agg(F.expr("count(*) AS common"))
        )
        out = _jaccard_rows(common, threshold, round_to)
    # ``ordered=False`` skips the final sort entirely: consumers that
    # re-aggregate the pairs (connected components, cluster keep-best)
    # would pay an exchange+sort only to destroy the order one stage
    # later.  The ordered path gathers to ONE partition and sorts
    # within it — the pair set is threshold-bounded (presentation
    # output), and a global orderBy would add a range-sampling job per
    # action just to split rows a collect() re-merges anyway.
    return (
        out.repartition(1).sortWithinPartitions("a", "b") if ordered else out
    )


def _perm_params(k: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic affine permutation parameters (a, b) — derivable on
    any executor with no driver state."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, _PRIME, size=k, dtype=np.int64)
    b = rng.integers(0, _PRIME, size=k, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def _minhash_kernel(k: int, seed: int):
    """Arrow-batched numpy MinHash fold: array<long> gram hashes →
    array<long> k-minima signature.

    Bit-for-bit identical to :func:`_signature_col`'s expression fold
    (pinned by tests/test_dedup.py): numpy's floor-mod on the raw
    xxhash64 equals the JVM's ``((h % P) + P) % P`` normalization, and
    every product stays under 2^62 (see ``_PRIME``), so int64 wraparound
    never fires.  The fold itself is k vectorized passes with a
    ``minimum.reduceat`` per doc segment — replacing an interpreted
    O(grams × k) ``aggregate``/``zip_with`` tree that CodegenFallback
    evaluates node-by-node (measured ~5x on the sf0.1 corpus, the same
    move :func:`mandoline_spark.functions.similarity.lsh_bucket` made).

    NULL hash arrays map to NULL signatures and empty arrays to the
    all-``_PRIME`` degenerate signature, exactly as the expression form's
    ``aggregate`` init/skip semantics produce them."""
    from pyspark.sql.functions import pandas_udf

    params = _perm_params(k, seed)
    a_np = np.array([a for a, _ in params], dtype=np.int64)
    b_np = np.array([b for _, b in params], dtype=np.int64)

    @pandas_udf("array<long>")
    def sig(h: pd.Series) -> pd.Series:
        vals = h.to_numpy()
        out = np.empty(len(vals), dtype=object)
        lens = np.empty(len(vals), dtype=np.int64)
        for i, v in enumerate(vals):
            if v is None:
                out[i] = None
                lens[i] = -1
            else:
                lens[i] = len(v)
                if len(v) == 0:
                    out[i] = np.full(k, _PRIME, dtype=np.int64)
        nz = np.flatnonzero(lens > 0)
        if len(nz):
            flat = np.concatenate([np.asarray(vals[i], dtype=np.int64) for i in nz])
            starts = np.zeros(len(nz), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            hn = flat % _PRIME
            sigs = np.empty((len(nz), k), dtype=np.int64)
            for j in range(k):
                sigs[:, j] = np.minimum.reduceat(
                    (hn * a_np[j] + b_np[j]) % _PRIME, starts
                )
            for row, i in enumerate(nz):
                out[i] = sigs[row]
        return pd.Series(out)

    return sig


def _simhash_kernel(bits: int = 64):
    """Arrow-batched numpy SimHash fold: array<long> gram hashes → long
    fingerprint.  Bit-for-bit identical to :func:`_simhash_col` (pinned
    by tests/test_dedup.py and q38's independent pure-Python oracle):
    arithmetic right-shift + mask reads the same two's-complement bits
    as ``F.getbit``, votes are exact int32 counts, and the sign-bit pack
    goes through uint64 so bit 63 lands as the JVM's negative long."""
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(bits, dtype=np.uint64)

    @pandas_udf("long")
    def sh(h: pd.Series) -> pd.Series:
        vals = h.to_numpy()
        out = np.empty(len(vals), dtype=object)
        lens = np.empty(len(vals), dtype=np.int64)
        for i, v in enumerate(vals):
            if v is None:
                out[i] = None
                lens[i] = -1
            else:
                lens[i] = len(v)
                if len(v) == 0:
                    out[i] = 0
        nz = np.flatnonzero(lens > 0)
        if len(nz):
            flat = np.concatenate([np.asarray(vals[i], dtype=np.int64) for i in nz])
            starts = np.zeros(len(nz), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            # (N, bits) ±1 votes; arithmetic >> keeps two's-complement
            # bit 63 readable through the &1 mask
            pm = (
                ((flat[:, None] >> np.arange(bits, dtype=np.int64)) & 1) * 2 - 1
            ).astype(np.int32)
            votes = np.add.reduceat(pm, starts, axis=0)
            packed = (
                (votes > 0).astype(np.uint64) << shifts[None, :]
            ).sum(axis=1, dtype=np.uint64).view(np.int64)
            for row, i in enumerate(nz):
                out[i] = int(packed[row])
        return pd.Series(out)

    return sh


def _signature_col(grams: Column, k: int, seed: int) -> Column:
    """k-minima MinHash signature (array<long>) from a gram array in one
    aggregate pass: acc[i] = min over grams of (a_i*h(gram)+b_i) % P."""
    params = _perm_params(k, seed)
    a_arr = F.array(*[F.lit(a) for a, _ in params])
    b_arr = F.array(*[F.lit(b) for _, b in params])
    hashes = F.transform(
        grams,
        lambda g: (F.xxhash64(g) % F.lit(_PRIME) + F.lit(_PRIME))
        % F.lit(_PRIME),
    )
    init = F.array_repeat(F.lit(_PRIME).cast("long"), k)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: (h * a + b) % F.lit(_PRIME)),
            lambda m, c: F.least(m, c),
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 64,
    seed: int = 42,
) -> DataFrame:
    """k-permutation MinHash signature per document as columns
    mh0..mh{k-1} — a single projection per doc over its gram-hash set
    (:func:`doc_gram_hashes`), no key shuffle.  The sig array is
    materialized in its own Project (Catalyst keeps non-cheap
    multi-referenced aliases un-collapsed), so the kernel runs once."""
    dgh = doc_gram_hashes(df, text_col, id_col, n)
    with_sig = dgh.select(
        "id", _minhash_kernel(k, seed)(F.col("ghashes")).alias("sig")
    )
    return with_sig.select(
        "id", *[F.element_at("sig", i + 1).alias(f"mh{i}") for i in range(k)]
    )


def _banded(sig_df: DataFrame, k: int, bands: int) -> DataFrame:
    """(id, band_id, band_hash) rows from (id, sig array) rows.

    Shingle-less documents get a per-document UNIQUE band hash instead
    of their real one: every empty doc carries the identical all-_PRIME
    signature (no gram ever lowers a minimum — so sig[0] == _PRIME is
    the exact emptiness test), and hashing that signature would put all
    of them in one guaranteed hot bucket in EVERY band, quadratic pair
    output for pairs the Jaccard verifier drops anyway (0/0).  A unique
    key excludes them from candidacy entirely.  Done as an expression
    rather than a ``size(grams) > 0`` pre-filter because Catalyst
    pushes such a filter below the repartition to the scan, re-inlining
    the whole gram pipeline into a single-task Filter over the raw
    corpus (measured 8x on a one-file sf0.1 corpus)."""
    r = k // bands
    # explode_outer: keeps InferFiltersFromGenerate from duplicating the
    # signature aggregate into a pushed-down filter (never-empty array,
    # so outer == inner here)
    empty = F.get("sig", 0) == F.lit(_PRIME).cast("long")
    return sig_df.select(
        "id",
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.when(empty, F.xxhash64(F.lit("__empty__"), "id"))
                    .otherwise(F.xxhash64(F.slice("sig", b * r + 1, r)))
                    .alias("band_hash"),
                ),
            )
        ).alias("b"),
    ).select("id", "b.band_id", "b.band_hash")


def _posting_lists(
    banded: DataFrame,
    keys: list[str],
    payload: list[str],
    max_size: int | None = None,
    min_size: int | None = None,
) -> DataFrame:
    """One row per bucket: (keys..., _ids sorted array<struct(id,
    payload...)>) via ONE groupBy(bucket) posting shuffle.  A self-join
    on the bucket key would evaluate the whole upstream signature
    pipeline twice (Catalyst cannot reuse the exchange across the
    join's alias renames); collecting each bucket's posting list
    evaluates it once.

    ``max_size`` drops over-sized buckets BEFORE any list is built: a
    window ``count`` partitioned by the bucket key runs on the same
    hash distribution the groupBy needs (one Exchange serves both — the
    window adds a spillable sort, no shuffle), and hot-key rows are
    filtered out as rows.  Filtering post-collect instead would
    materialize a corpus-scale stop-shingle's whole posting array in
    ONE unspillable aggregation buffer before dropping it — the exact
    skew OOM the cap exists to guard (ADVICE r03).

    ``min_size`` drops UNDER-sized buckets with a plain POST-collect
    row filter on the list length: pair-emitting consumers pass 2 —
    the overwhelming majority of shingles/band-buckets are singletons
    (unique content), and each would otherwise flow through the pair
    emitter's posexplode/slice projection only to produce nothing.
    Post-collect is the right side for the MIN bound (a one-element
    array is 16 bytes — no memory hazard — while the pre-collect
    window's sort on the full exploded stream measured ~60% slower
    than just building the tiny arrays); pre-collect stays the right
    side for the MAX bound, where the hazard is one unspillable
    corpus-scale buffer.  Size-payload consumers must NOT pass
    min_size when sizes are recounted from the lists."""
    cols = ["id", *payload]
    # Bucket-exchange parallelism deliberately stays on the session's
    # spark.sql.shuffle.partitions: an explicit repartition to the core
    # count was tried (r8) and measured WORSE across q36/q37/q38 at
    # sf0.1 — per-task overhead on the small posting shuffles outweighs
    # the extra parallelism; a cluster tunes the session setting.
    if max_size is not None:
        # the window filter still prints as `_bsz` (pinned by
        # test_plan_quality); single-expr construction as elsewhere
        banded = banded.selectExpr(
            "*",
            f"count(1) OVER (PARTITION BY {', '.join(keys)}) AS _bsz",
        ).where(f"_bsz <= {max_size}").drop("_bsz")
    out = banded.groupBy(*keys).agg(
        F.expr(
            f"sort_array(collect_list(struct({', '.join(cols)}))) AS _ids"
        )
    )
    if min_size is not None:
        out = out.where(f"size(_ids) >= {min_size}")
    return out


def _pairs_from_posts(
    posts: DataFrame,
    payload: list[str],
    max_bucket: int | None,
) -> DataFrame:
    """Upper-triangle a<b pairs from posting lists, emitted
    INCREMENTALLY: posexplode yields one row per (list, position) —
    each carrying the O(L) list, never an O(L²) flattened pair array —
    and a second explode of the per-position tail slice streams the
    pairs out.  Peak per-row memory is O(L), so a hot bucket degrades
    to more rows instead of one task-OOMing array.

    ``max_bucket`` drops buckets whose posting list exceeds it: pair
    output is quadratic in list length, and a pathological key (a
    stop-shingle, a degenerate signature) would otherwise emit L²/2
    pairs.  Dropped buckets lose candidates (recall, not precision);
    callers that cannot tolerate that must pass None.  Callers building
    the lists themselves should prefer ``_posting_lists(max_size=...)``
    (pre-collect, memory-bounded); this post-collect filter covers
    already-built lists."""
    if max_bucket is not None:
        posts = posts.filter(F.size("_ids") <= max_bucket)
    lhs = posts.select("_ids", F.posexplode("_ids").alias("_i", "_x"))
    tail = F.slice(
        "_ids",
        F.col("_i") + 2,
        F.greatest(F.size("_ids") - F.col("_i") - 1, F.lit(0)),
    )
    # explode_outer + null-filter: a plain explode would let
    # InferFiltersFromGenerate push a size()>0 filter that re-evaluates
    # the slice+transform once more per row
    pair = F.explode_outer(
        F.transform(
            tail,
            lambda y: F.struct(
                F.col("_x.id").alias("a"),
                y["id"].alias("b"),
                *[F.col(f"_x.{c}").alias(f"{c}_a") for c in payload],
                *[y[c].alias(f"{c}_b") for c in payload],
            ),
        )
    )
    out_cols = ["a", "b"] + [f"{c}_{s}" for c in payload for s in ("a", "b")]
    return (
        lhs.select(pair.alias("_p"))
        .where(F.col("_p").isNotNull())
        .select(*[F.col(f"_p.{c}").alias(c) for c in out_cols])
    )


def _posting_pairs(
    banded: DataFrame,
    keys: list[str],
    payload: list[str],
    max_bucket: int | None = None,
) -> DataFrame:
    """a<b candidate pairs from banded rows: one posting shuffle, then
    incremental upper-triangle emission (see :func:`_pairs_from_posts`
    for the memory shape).  ``max_bucket`` is enforced PRE-collect
    (window count on the same exchange, see :func:`_posting_lists`) so
    a hot bucket never materializes its posting array at all;
    ``min_size=2`` drops singleton buckets post-collect (a length
    filter on the built — 16-byte — arrays; see :func:`_posting_lists`
    for why the two bounds sit on opposite sides of the collect), so
    they never reach the pair emitter's projection."""
    return _pairs_from_posts(
        _posting_lists(
            banded, keys, payload, max_size=max_bucket, min_size=2
        ),
        payload,
        None,
    )


def _jaccard_rows(
    common: DataFrame, threshold: float, round_to: int | None
) -> DataFrame:
    """(a, b, jac) at jac ≥ threshold from (a, b, common, na, nb) rows:
    the one Jaccard formula of both exact emitters."""
    jac_sql = "common / (na + nb - common)"
    jac = jac_sql if round_to is None else f"round({jac_sql}, {int(round_to)})"
    return common.where(f"{jac_sql} >= {float(threshold)!r}").selectExpr(
        "a", "b", f"{jac} AS jac"
    )


def _verify_jaccard(
    cand: DataFrame, words: DataFrame, n: int, threshold: float, round_to: int | None
) -> DataFrame:
    """Exact Jaccard of candidate pairs (a, b), repeats allowed, on the
    gram-hash sets of the corpus ``words`` (:func:`_doc_words`): (a, b,
    jac) at jac ≥ threshold, cost O(candidates), never O(corpus²).

    Each candidate doc gathers its distinct pairs into one row, which a
    sort-merge join (hinted: the candidate side's size is unknown at
    plan time, a broadcast costs a job, and a hash join's build cannot
    spill when candidates near corpus scale) meets with its text on
    the reused id-partitioned corpus exchange.  Its gram set is built
    there ONCE, for all its pairs, which fold back per pair: gram
    arrays cross only that O(candidates) exchange, and a non-candidate
    doc's grams are never built here."""
    need = (
        cand.select("a", "b", F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.collect_set(F.struct("a", "b")).alias("_pairs"))
    )
    # the formula is symmetric, so the two sets' order does not matter.
    # common/na/nb are the aggregate's result expressions, evaluated
    # once per pair: a filter on them cannot be pushed beneath it, so
    # the threshold test reads them instead of re-inlining the
    # intersection (a projection above the aggregate would be
    # substituted into the filter, and its intersection built again).
    g = "collect_list(ghashes)"
    paired = (
        words.join(need.hint("merge"), "id")
        # grams in their own Project: beside the explode they would be
        # built once per pair
        .select("_pairs", _gram_hash_col(n).alias("ghashes"))
        .select("ghashes", F.explode("_pairs").alias("_p"))
        .groupBy("_p.a", "_p.b")
        .agg(
            F.expr(f"size(array_intersect({g}[0], {g}[1])) AS common"),
            F.expr(f"size({g}[0]) AS na"),
            F.expr(f"size({g}[1]) AS nb"),
        )
    )
    return _jaccard_rows(paired, threshold, round_to)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    round_to: int | None = 6,
    max_bucket: int | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Near-dup pairs by MinHash banding + exact-Jaccard verification.

    Banding: signature split into ``bands`` groups of k/bands rows; docs
    colliding on any band become candidates (join key = band id + band
    hash), recall 1-(1-s^r)^b (≈1 for s ≥ 0.8 at 16×4).  Verification
    computes each candidate's exact Jaccard on the two gram SETS with
    ``array_intersect`` — cost O(candidates), so the full
    inverted-index self-join never runs.

    Documents with no shingles are excluded from candidacy (see
    :func:`_banded`: they all share the degenerate all-fill signature
    and would otherwise form one guaranteed hot bucket in every band).
    ``max_bucket`` bounds the remaining (data-dependent) bucket skew; a
    dropped bucket of size L loses its L²/2 candidates (recall, not
    precision).  The default is None — exact banding recall — because a
    silent default-on recall change is worse than an opt-in guard:
    100 TB call sites pass an explicit cap sized to their executor
    memory (the declared q36 passes 10_000).

    Verification (:func:`_verify_jaccard`) builds each candidate DOC's
    gram set once for all its pairs, not once per member row (the
    r9–r15 shape, sized for candidates ≪ corpus — but candidate count
    grows with the corpus's dup structure, not its size: at sf1 the
    banding emits 5 pairs per DOC (251k pairs / 50k docs), and that
    per-member recompute was 19 s of q36's 21 s,
    PROBE_Q36_SF1_r16.json).  The gram work is at most 2x optimal at
    ANY dup rate (the signature pass, then candidate docs again)."""
    # Hash-level gram sets end-to-end (see doc_gram_hashes): the
    # signature kernel consumes the hashes directly, and verification
    # intersects long arrays instead of gram strings — the string set
    # is never materialized anywhere in this pipeline.
    dgh = doc_gram_hashes(df, text_col, id_col, n)
    sig = dgh.select(
        "id", _minhash_kernel(k, seed)(F.col("ghashes")).alias("sig")
    )
    banded = _banded(sig, k, bands)
    cand = _posting_pairs(banded, ["band_id", "band_hash"], [], max_bucket)
    words = _doc_words(df, text_col, id_col)
    out = _verify_jaccard(cand, words, n, threshold, round_to)
    # same ordered contract as ngram_jaccard_pairs: threshold-bounded
    # presentation output gathers + sorts in one partition instead of
    # paying a range-sampler job per action
    return (
        out.repartition(1).sortWithinPartitions("a", "b") if ordered else out
    )


def _simhash_col(grams: Column, bits: int = 64) -> Column:
    """SimHash (long) from a gram array: one aggregate pass carrying
    ``bits`` majority-vote counters, then one fold packing sign bits."""
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    init = F.array_repeat(F.lit(0).cast("long"), bits)
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        hashes,
        init,
        # getbit accepts a column position (shiftright only takes ints)
        lambda acc, h: F.zip_with(
            acc, bit_idx, lambda v, i: v + F.getbit(h, i) * 2 - 1
        ),
    )
    # bit i of the result = (votes[i] > 0) << i, packed with XOR of
    # power-of-two literals — no shift-by-column, no additive overflow
    pow2 = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            for i in range(bits)
        ]
    )
    return F.aggregate(
        F.zip_with(
            votes,
            pow2,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc.bitwiseXOR(t),
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document — a single projection per doc, no
    shuffle (same shape note as :func:`minhash_signatures`)."""
    dgh = doc_gram_hashes(df, text_col, id_col, n)
    return dgh.select(
        "id", _simhash_kernel(bits)(F.col("ghashes")).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs with hamming(simhash) ≤ max_hamming.
    Banding on 16-bit slices: any pair within hamming ≤ bands-1 shares
    at least one exact band (pigeonhole), so the join key is a band
    slice, not the full n² cross product.  For max_hamming ≤ bands-1
    the banding is therefore EXACT (recall 1); beyond that it is a
    candidate heuristic.

    Shingle-less documents are excluded (all-zero fingerprint — one
    guaranteed hot bucket, same rationale as :func:`minhash_lsh_pairs`).
    As in :func:`_banded` the exclusion is an expression, not a
    ``size(grams) > 0`` pre-filter (which Catalyst would push to the
    scan, re-inlining the gram pipeline into a single-task Filter):
    empty docs get a per-doc unique NEGATIVE band value, disjoint from
    the real 16-bit slices (≥ 0), so no spurious candidate can survive
    — unlike minhash there is no verifier downstream to drop one.
    ``max_bucket`` bounds residual bucket skew at the cost of recall on
    oversized buckets (opt-in, default None — same rationale as
    :func:`minhash_lsh_pairs`)."""
    dgh = doc_gram_hashes(df, text_col, id_col, n)
    s = dgh.select(
        "id",
        _simhash_kernel(64)(F.col("ghashes")).alias("simhash"),
        F.size("ghashes").alias("_ng"),
    )
    width = 64 // bands
    mask = (1 << width) - 1
    empty_val = F.lit(-1).cast("long") - F.pmod(
        F.xxhash64(F.lit("__empty__"), "id"), F.lit(1 << 62).cast("long")
    )
    banded = s.select(
        "id",
        "simhash",
        F.explode_outer(  # see _banded: avoids InferFiltersFromGenerate
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.when(F.col("_ng") == 0, empty_val)
                        .otherwise(
                            F.shiftright("simhash", i * width).bitwiseAND(
                                F.lit(mask)
                            )
                        )
                        .alias("band_val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", "b.band_id", "b.band_val")
    pairs = _posting_pairs(
        banded, ["band_id", "band_val"], ["simhash"], max_bucket
    )
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    # hamming filter BEFORE the dedup across bands: cheap bit_count per
    # emitted pair shrinks the distinct's shuffle to surviving pairs.
    # The final sort gathers to ONE partition and sorts within it (the
    # pair set is hamming-bounded presentation output); a global
    # orderBy would pay a range-sampling pass per action just to split
    # rows a collect() re-merges (same rationale as psort/queries.py).
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
        .repartition(1)
        .sortWithinPartitions("a", "b")
    )


def band_key_array(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    out_col: str = "_band_keys",
    empty_salt: str = "__empty__",
) -> DataFrame:
    """Append an ``array<long>`` of LSH band keys per row, keeping
    every other column — the streaming-composable (pure-projection,
    no explode/shuffle) form of :func:`_banded`.

    Each key hashes its band id INTO the band hash, so keys from
    different bands can never collide into a spurious match.
    Shingle-less documents get per-(doc, band) unique keys derived
    from ``empty_salt`` + id (same rationale as :func:`_banded`);
    callers comparing two corpora must pass DIFFERENT salts per side
    so an id shared across sides cannot make two empty docs "match".

    The signature lands in its own projection before the band lambda
    references it ``bands`` times — the same CollapseProject guard
    :func:`minhash_signatures` documents (re-inlining would run the
    signature aggregate once per band)."""
    if k % bands:
        raise ValueError(f"bands must divide k: k={k} bands={bands}")
    r = k // bands
    s1 = df.withColumn("_words", F.split(F.col(text_col), r"\s+"))
    s2 = s1.withColumn("_ghashes", _gram_hash_col(n))
    s3 = s2.withColumn("_sig", _minhash_kernel(k, seed)(F.col("_ghashes")))
    empty = F.get("_sig", 0) == F.lit(_PRIME).cast("long")
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.when(
            empty, F.xxhash64(F.lit(empty_salt), F.col(id_col), b)
        ).otherwise(F.xxhash64(b, F.slice("_sig", b * r + 1, r))),
    )
    return s3.withColumn(out_col, keys).drop("_words", "_ghashes", "_sig")
