"""Store maintenance: garbage collection of unreferenced chunks and
superseded index generations.

The reference reserves chunk reference counting for GC but stubs it
(``chunk-refs``/``update-chunk-refs``, protocol.clj:23-42; the write
path passes a constant -1, impl.clj:253-254).  The Spark shape computes
reference counts at collection time instead of maintaining them online:
a chunk is live iff some committed version's current index references
its hash.  That collects failed-ingest leftovers (uncommitted versions
are invisible to readers and to liveness) and overwritten chunks whose
last referencing version was itself vacuumed away — while time travel
to every committed version keeps working, because each committed
version's own index generations (newest full gen + later delta
overlays) are scanned; a delta-only version's ancestor base is itself
a committed version, counted under its own row.

Single-maintainer assumption: like the reference's ``destroy-dataset``,
vacuum must not race concurrent writers to the same dataset.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from .store import Connection


def _retire(
    fs, path: str, retain_seconds: float, now: float,
    tombstone: bool = False,
) -> bool:
    """Delete ``path`` now (retention off), or mark it superseded and
    delete it only once the marker is ``retain_seconds`` old.  Returns
    True iff the directory was removed (or, with ``tombstone``,
    collapsed to a ``_RELEASED`` tombstone).

    The grace period closes vacuum's reader race (Delta-style
    retention): a reader that resolved the old generation just before
    the pointer flip keeps reading it for the whole window instead of
    losing an rmtree race.  The clock is the marker file's recorded
    wall time — no filesystem mtime dependence, so it works identically
    on object stores.

    ``tombstone=True`` (stale index-generation claims) collapses the
    directory to a durable ``_RELEASED`` tombstone instead of removing
    it, keeping the generation number a counted position for
    ``check_generations_complete``'s contiguity walk — see
    :func:`mandoline_spark.writer.tombstone_claim`."""
    marker = os.path.join(path, "_SUPERSEDED")
    if retain_seconds > 0:
        if not fs.exists(marker):
            fs.write_text(marker, f"{now}\n")
            return False
        try:
            ts = float(fs.read_text(marker).strip())
        except (ValueError, OSError):
            ts = now  # unreadable marker: restart the clock
            fs.write_text(marker, f"{now}\n")
        if now - ts < retain_seconds:
            return False
    if tombstone:
        from .writer import tombstone_claim

        tombstone_claim(fs, path)
    else:
        fs.rmtree(path)
    return True


def vacuum(
    conn: Connection, retain_seconds: float = 0.0, scope: str = "full"
) -> dict:
    """Remove (a) chunk blobs unreferenced by every committed version,
    (b) superseded index generations, (c) index directories of
    uncommitted versions, and (d) stale claim-only index generations
    (a writer that crashed between claiming a generation number and
    appending its parquet leaves a ``_CLAIM``-only directory that
    would otherwise pin the number forever).  Returns counts of what
    was kept/removed.

    Phase (a) runs in one of two tiers with the same result.  When the
    driver-tier gate (:meth:`Connection.driver_tier`) admits the store —
    LOCAL, its chunk table within ``blob_local_fetch_max_bytes``, its
    committed versions' own index generations within
    ``index_map_max_entries`` rows in all (footer counts) — it runs on
    the driver with pyarrow and launches no Spark job
    (:func:`_local_chunk_pass`): survivors are
    written as one zstd Parquet file in row groups of
    ~``writer.CHUNK_ROW_GROUP_BYTES`` and, like the driver write tier's
    files, carry no hash bloom filter.  Anything else — hdfs/s3a, the
    in-memory catalog, an over-cap table or index — takes the Spark
    pass (:func:`_spark_chunk_pass`), whose survivors keep the bloom
    filter.  Eligibility is settled before either tier changes
    anything.

    ``retain_seconds`` keeps superseded chunk/index generations on disk
    (marked ``_SUPERSEDED``) for a grace period before deletion, so
    concurrent readers that resolved the old generation finish
    unharmed; a later vacuum call collects aged-out generations.  The
    default 0 deletes immediately (single-maintainer semantics,
    matching the reference's destroy).

    ``scope="settled"`` is the busy-dataset mode (r12 verdict stretch
    #7): the full mode's tip-latch probe aborts the WHOLE vacuum
    whenever any commit is in flight — correct but total, so a dataset
    with continuous writers can never run maintenance.  Settled scope
    collects only garbage that is provably independent of any
    in-flight or lag-hidden commit:

    - RUNS phase (b), superseded index generations of committed
      versions — resolution only ever consults each version's newest
      FULL generation and later deltas, for the version itself, for
      descendants' overlay fallback, and for an in-flight writer's
      read-modify-write base alike, so a generation strictly below its
      own version's newest full is dead to every present and future
      reader (each (vid, var) listing is still guarded by the
      strong-key completeness probe);
    - RUNS phase (d), stale claim husks on committed versions —
      in-flight commits write only under their own (uncommitted,
      unenumerated) version id, and compact_index shares maintenance's
      single-maintainer contract, so a husk here cannot belong to a
      live writer;
    - SKIPS phase (c) — an uncommitted index tree may be the in-flight
      writer's working state, not a failed ingest's residue;
    - SKIPS phase (a)'s liveness rewrite — the in-flight version's
      already-appended chunks are referenced by no committed index yet
      and would read as unreferenced; only superseded chunk
      GENERATIONS from earlier full vacuums still age out (their
      pointer flip already happened).

    Failed-ingest residue and unreferenced chunks therefore persist
    until a quiescent window allows a ``scope="full"`` run — settled
    mode trades collection completeness for running at all under
    continuous writers.

    Settled mode should run with a NONZERO ``retain_seconds`` (r13
    advice): its premise is concurrent readers and writers, and with
    the 0 default phase (b) and the settled chunk-generation sweep
    delete superseded generations IMMEDIATELY — a concurrent reader
    that resolved the old generation before the sweep (or an in-flight
    writer whose read-modify-write base was resolved before a
    compaction) loses files mid-scan.  The same caveat previously
    documented for phase (d) claims applies to every settled-mode
    deletion; a grace window longer than the longest running
    read/commit makes them all safe.  ``vacuum`` warns rather than
    raises on ``scope="settled", retain_seconds=0`` because a
    quiesced-by-convention operator (readers drained, writers paused)
    is still a legitimate immediate-collection caller."""
    if scope not in ("full", "settled"):
        raise ValueError(
            f'scope must be "full" or "settled": {scope!r}'
        )
    settled = scope == "settled"
    if settled and retain_seconds <= 0:
        import warnings

        warnings.warn(
            'vacuum(scope="settled") with retain_seconds=0 deletes '
            "superseded generations immediately; concurrent readers "
            "(settled mode's premise) can lose files mid-scan.  Set "
            "retain_seconds above the longest running read/commit.",
            stacklevel=2,
        )
    now = time.time()
    stats = {
        "chunks_kept": 0,
        "chunks_removed": 0,
        "index_gens_removed": 0,
        "index_gens_retained": 0,
        "chunk_gens_removed": 0,
        "chunk_gens_retained": 0,
        "stale_claims_removed": 0,
        "stale_claims_retained": 0,
        "uncommitted_versions_removed": 0,
    }
    from .store import _has_parquet
    from .writer import check_generations_complete

    # -- pre-flight: fail loud BEFORE any destructive phase -------------------
    # (r12 review: the guards originally ran after phases (b)/(c)/(d),
    # so a stale listing could delete the very evidence — claims,
    # index trees — the guards needed.)
    #
    # (0) Tip-latch probe: the FIRST commit atop the visible tip (in
    # flight, or committed but fully lag-hidden — mirror, latch and
    # index tree all unlisted) always owns the durable parent-named
    # latch n<tip>.json, which answers strong per-key GETs.  Its
    # existence means this run's whole view of history may be stale —
    # every later phase (uncommitted-tree deletion, superseded-gen
    # retirement, unreferenced-chunk GC) would treat the hidden
    # version's state as garbage.  No false positives from residue:
    # a COMPLETED visible commit's latch is named after ITS parent,
    # not after the tip it became.
    versions = conn.versions()  # ONE snapshot (newest first) for every
    # phase — it also runs the listing repairer; deriving `committed`
    # from it keeps all phases on a single consistent view (r12 second
    # review pass: a version draining into view between two separate
    # listings tripped the phase-(c) mirror guard spuriously)
    committed = [vid for vid, _ in versions]
    tip = committed[0] if committed else 0
    if conn.fs.exists(os.path.join(conn.path, "versions", f"n{tip}.json")):
        if not settled:
            raise RuntimeError(
                f"vacuum: a commit atop the visible tip {tip} is in "
                "flight or committed-but-unlisted (its parent-named "
                "latch answers GETs) — this run's view of history is "
                "incomplete.  Retry after the commit finishes / the "
                "listing catches up, or run scope=\"settled\" to "
                "collect only commit-independent garbage; collecting "
                "everything now could delete the hidden version's data."
            )
        # settled scope proceeds: every phase it runs is independent
        # of the in-flight/hidden commit by construction (see the
        # docstring) — but a FULLY lag-hidden committed version would
        # still poison phase (b)'s view of "the newest full
        # generation" for ITS OWN (vid, var) pairs only, and those
        # pairs are not enumerated here (the hidden version is not in
        # `versions`), so nothing of its state is touched.
    # (1) Per-(version, variable) generation completeness: a lag-hidden
    # index generation's hashes would be missing from the ref set in
    # phase (a) and its live blobs deleted as unreferenced; the same
    # hidden generation must also not be mistaken for a claim husk by
    # phase (d).  Unwritten (unsealed, parquet-less) claims are NOT an
    # abort here: on committed versions they are exactly the garbage
    # phase (d) collects (single-maintainer contract).
    for vid, token in versions:
        for var in token.get("variables", {}):
            check_generations_complete(conn, vid, var, allow_unwritten=True)

    # -- (c) uncommitted version index trees ---------------------------------
    # (skipped in settled scope: an uncommitted tree may be the
    # in-flight writer's working state, not failed-ingest residue)
    index_root = os.path.join(conn.path, "index")
    if not settled and conn.fs.isdir(index_root):
        for d in conn.fs.listdir(index_root):
            if d.startswith("v="):
                vid = int(d[2:])
                if vid not in committed:
                    # Strong per-key probe of the version mirror before
                    # deleting: the versions LISTING can miss a freshly
                    # committed version while its mirror answers GETs —
                    # treating it as uncommitted here would rmtree a
                    # committed version's entire index.
                    if conn.fs.exists(
                        os.path.join(
                            conn.path, "versions", f"{vid}.json"
                        )
                    ):
                        raise RuntimeError(
                            f"vacuum: version {vid} is committed (its "
                            "mirror answers GETs) but missing from the "
                            "versions listing — list-after-write lag. "
                            "Retry after the store's listing catches "
                            "up; collecting now would delete live "
                            "index/chunk data."
                        )
                    conn.fs.rmtree(os.path.join(index_root, d))
                    stats["uncommitted_versions_removed"] += 1

    # -- (b) superseded generations ------------------------------------------
    # A generation is superseded only by a LATER FULL generation of the
    # same version — deltas after the newest full gen are live (readers
    # overlay them), and every generation of a delta-only version is
    # live (it may be the base for descendants' overlays).
    for vid, token in versions:
        for var in token.get("variables", {}):
            gens = conn.index_gens(vid, var)
            last_full = None
            for g in gens:
                if not conn.index_gen_is_delta(vid, var, g):
                    last_full = g
            for g in gens:
                if last_full is not None and g < last_full:
                    if _retire(
                        conn.fs,
                        conn.index_path(vid, var, g),
                        retain_seconds,
                        now,
                    ):
                        stats["index_gens_removed"] += 1
                    else:
                        stats["index_gens_retained"] += 1
            # -- (d) stale claim-only generations: committed versions
            # accept no further writes (compact_index is the one
            # exception and shares vacuum's single-maintainer
            # assumption), so an UNSEALED parquet-less g=* dir here is
            # a crashed writer's abandoned claim, not an in-flight
            # commit.  A _SEALED marker proves the parquet append
            # completed even when its keys are not listable yet — the
            # pre-flight check above has already aborted on those, and
            # the seal probe keeps this deletion safe against a
            # listing that went stale since.  Residual window, by
            # design: a writer that crashed BETWEEN the append and the
            # seal write is deleted here even if its parquet keys were
            # merely lagging — that write never returned success and
            # its generation can never have been referenced by a
            # committed version (finish_version's completeness check
            # refuses unsealed invisible generations), so collecting
            # it is failed-ingest semantics, not data loss; for a
            # compaction generation the overlay chain it rewrote is
            # still live and resolution falls back to it.  One caveat
            # remains for CONCURRENT READERS on a lagged store:
            # listing lag is per-client, so a reader with a FRESHER
            # listing may have resolved that merely-lagging unsealed
            # generation as its newest-full base and would fail
            # mid-scan when its files vanish.  ``retain_seconds`` is
            # the remedy (same grace the chunk/index retirement paths
            # get): a parquet-less unsealed claim younger than the
            # window is retained so in-flight readers drain first.
            # With the default retain_seconds=0, vacuum on a lagged
            # store assumes no concurrent readers — the
            # single-maintainer contract extended to readers.
            # Collection leaves a _RELEASED tombstone (not a bare
            # rmtree) so the completeness walk's contiguity bound
            # survives; already-tombstoned dirs are left alone.
            base = conn.index_path(vid, var)
            if conn.fs.isdir(base):
                for d in conn.fs.listdir(base):
                    p = os.path.join(base, d)
                    if (
                        not d.startswith("g=")
                        or conn.fs.exists(os.path.join(p, "_SEALED"))
                        or _has_parquet(conn.fs, p)
                    ):
                        continue
                    if conn.fs.exists(
                        os.path.join(p, "_RELEASED")
                    ) and not conn.fs.exists(os.path.join(p, "_CLAIM")):
                        continue  # already a tombstone: keep
                    if _retire(
                        conn.fs, p, retain_seconds, now, tombstone=True
                    ):
                        stats["stale_claims_removed"] += 1
                    else:
                        stats["stale_claims_retained"] += 1

    # -- (a) unreferenced chunks ----------------------------------------------
    # (completeness was guarded in pre-flight, before anything was
    # deleted)
    if settled:
        # The liveness rewrite is commit-DEPENDENT: an in-flight
        # version's already-appended chunks are referenced by no
        # committed index yet and would be collected as unreferenced.
        # Settled scope skips it entirely — but superseded chunk
        # GENERATIONS from earlier full vacuums still age out (their
        # pointer flip already happened; only grace-window readers
        # ever touch them, never an in-flight writer, whose dedup
        # semi-join resolves through the CHUNKS pointer).
        _retire_chunk_gens(conn, retain_seconds, now, stats)
        conn.invalidate_cache()
        return stats
    conn.invalidate_cache()
    if not _local_chunk_pass(conn, versions, retain_seconds, now, stats):
        _spark_chunk_pass(conn, versions, retain_seconds, now, stats)
    return stats


def _retire_chunk_gens(
    conn: Connection, retain_seconds: float, now: float, stats: dict
) -> None:
    """Retire every chunk generation but the one ``CHUNKS`` names."""
    current = os.path.basename(conn.chunks_path().rstrip("/"))
    for d in conn.fs.listdir(conn.path):
        if (d == "chunks" or d.startswith("chunks.g")) and d != current:
            if _retire(
                conn.fs, os.path.join(conn.path, d), retain_seconds, now
            ):
                stats["chunk_gens_removed"] += 1
            else:
                stats["chunk_gens_retained"] += 1


def _next_chunk_gen(conn: Connection) -> str:
    """Name of the chunk generation a dirty pass writes its survivors
    to, emptied of any leftover from an earlier failed pass."""
    old_name = os.path.basename(conn.chunks_path().rstrip("/"))
    gen = int(old_name.rsplit(".g", 1)[1]) + 1 if ".g" in old_name else 0
    conn.fs.rmtree(os.path.join(conn.path, f"chunks.g{gen}"))
    return f"chunks.g{gen}"


def _finish_chunk_pass(
    conn: Connection,
    new_gen: str | None,
    total: int,
    n_dead: int,
    retain_seconds: float,
    now: float,
    stats: dict,
) -> None:
    """Flip ``CHUNKS`` to the survivors' generation ``new_gen`` (None:
    the store was clean and nothing was rewritten), retire the other
    generations and record the counts.

    Generation flip instead of rename-swap: the survivors are written
    BESIDE the live directory, the CHUNKS pointer file is atomically
    replaced to name the new generation, and only then is the old
    directory deleted — a concurrent reader resolves either the old or
    the new generation, never a missing directory (the r2 swap left a
    window with no chunks dir at all).  With ``retain_seconds`` > 0 the
    old generation is merely marked superseded and outlives the flip by
    the grace period, so a reader that resolved it just before the flip
    cannot lose the rmtree race; with the default 0 the delete is
    immediate (readers retry, matching the reference's destroy
    semantics).  A clean pass still retires: superseded generations
    from EARLIER vacuums age out here, otherwise a store that went
    clean would keep its grace-window directories forever."""
    if new_gen is not None:
        conn.fs.replace_text(os.path.join(conn.path, "CHUNKS"), f"{new_gen}\n")
    _retire_chunk_gens(conn, retain_seconds, now, stats)
    if new_gen is not None:
        conn.invalidate_cache()
    stats["chunks_kept"] = total - n_dead
    stats["chunks_removed"] = n_dead


def _local_live_hashes(conn: Connection, versions: list):
    """Distinct chunk hashes referenced by the committed ``versions``,
    computed with pyarrow, or None when the driver-tier gate
    (:meth:`Connection.driver_tier`) refuses the generations to read,
    summed over every (version, variable) — the index cap bounds the
    driver's work as it bounds a read's index map.

    Each (version, variable) contributes its own generations (newest
    full plus later deltas, no ancestor base), as the Spark tier's
    ``index_df(..., ancestors=False)`` does: walking them newest first,
    a row counts only if no newer generation of the same plan wrote
    its ``ckey`` (last writer wins per coordinate)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    plans = [  # per (version, variable): generation dirs, newest first
        [
            conn.index_path(v, var, g)
            for v, g in reversed(
                conn._local_index_plan(vid, var, ancestors=False) or []
            )
        ]
        for vid, token in versions
        for var in token.get("variables", {})
    ]
    tier = conn.driver_tier((d for p in plans for d in p), chunks=False)
    if tier is None:
        return None
    hashes = []
    for plan in plans:
        newer = None  # ckeys written by the newer generations
        for i, d in enumerate(plan):
            files = tier.index[d]
            if not files:
                continue
            t = pa.concat_tables(
                [
                    pq.ParquetFile(f).read(columns=["ckey", "chunk_hash"])
                    for f in files
                ]
            )
            if newer is not None:
                t = t.filter(pc.invert(pc.is_in(t["ckey"], value_set=newer)))
            hashes.append(t["chunk_hash"].combine_chunks())
            if i + 1 < len(plan):
                keys = t["ckey"].combine_chunks()
                newer = (
                    keys if newer is None else pa.concat_arrays([newer, keys])
                )
    return pc.unique(pa.chunked_array(hashes, pa.string()))


def _local_chunk_pass(
    conn: Connection,
    versions: list,
    retain_seconds: float,
    now: float,
    stats: dict,
) -> bool:
    """Phase (a) on the driver, with pyarrow and no Spark job.  Returns
    False, having changed nothing, unless the driver-tier gate
    (:meth:`Connection.driver_tier`) admits the chunk table (a LOCAL
    store within ``blob_local_fetch_max_bytes``, or empty) and the live
    set's generations (:func:`_local_live_hashes`); the caller then
    takes the Spark pass.

    The chunk table's ``hash`` column is read one row group at a time
    to count total and dead ROWS, as the Spark anti-join does.
    Survivors stream through :func:`writer._write_local_parquet` into
    one zstd Parquet file of the new generation, in row groups of
    ~``writer.CHUNK_ROW_GROUP_BYTES``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from . import writer
    from .store import _row_group_hashes

    tier = conn.driver_tier()
    if tier is None:
        return False
    files = tier.chunks
    if not files:
        return True  # no chunks yet: nothing to collect
    live = _local_live_hashes(conn, versions)
    if live is None:
        return False
    # survivor mask of every row group, per file
    masks = {
        fp: [
            pc.is_in(h, value_set=live).to_numpy()
            for _, _, h in _row_group_hashes(fp)
        ]
        for fp in files
    }
    total = sum(len(m) for ms in masks.values() for m in ms)
    n_dead = total - sum(int(m.sum()) for ms in masks.values() for m in ms)
    new_gen = None
    if n_dead:
        new_gen = _next_chunk_gen(conn)
        names = writer.CHUNK_SCHEMA.names

        def survivors():
            for fp, ms in masks.items():
                with pq.ParquetFile(fp) as pf:
                    for rg, mask in enumerate(ms):
                        if mask.any():
                            t = pf.read_row_group(rg, columns=names)
                            yield t.filter(pa.array(mask))

        writer._write_local_parquet(
            writer.CHUNK_SCHEMA,
            survivors(),
            os.path.join(conn.path, new_gen),
            row_group_bytes=writer.CHUNK_ROW_GROUP_BYTES,
        )
    _finish_chunk_pass(
        conn, new_gen, total, n_dead, retain_seconds, now, stats
    )
    return True


def _spark_chunk_pass(
    conn: Connection,
    versions: list,
    retain_seconds: float,
    now: float,
    stats: dict,
) -> None:
    """Phase (a) through Spark: remote and in-memory stores and
    over-cap tables or indexes.  The ref-hash set is the union of
    each committed version's OWN resolved generations (``index_df``
    with ``ancestors=False``): every ancestor is itself a committed
    version of the same snapshot, so its entries are counted under its
    own row, and pulling them again per descendant made the union
    O(versions²) generation scans."""
    chunks = conn.chunks_df()
    if chunks is None:
        return
    refs = None
    for vid, token in versions:
        for var in token.get("variables", {}):
            idx = conn.index_df(vid, var, ancestors=False)
            if idx is not None:
                h = idx.select(F.col("chunk_hash").alias("hash"))
                refs = h if refs is None else refs.unionByName(h)
    total = chunks.count()
    # One liveness computation per vacuum (VERDICT r7 #4).  The ref-hash
    # set (union of resolved index scans) is persisted once — it is
    # hashes only, ~40 B/chunk — and shared by both the clean-check and
    # the dirty-path rewrite.  The clean-check itself is a hash-only
    # anti-join: column pruning keeps chunk BLOB bytes out of that scan
    # (persisting the joined chunks frame instead would pin the blob
    # data twice at 100 TB), and ``kept`` is derived as total - dead —
    # no read-back count of the new generation.
    refs = refs.distinct().persist() if refs is not None else None
    # The persisted ref-hash set must not outlive the call even when
    # the survivors' write, pointer flip, or retire loop raises — an
    # exception would otherwise leak the InMemoryRelation for the
    # session's lifetime (ADVICE r8).
    try:
        n_dead = (
            chunks.select("hash").join(refs, "hash", "left_anti").count()
            if refs is not None
            else total
        )
        # Nothing unreferenced: skip the generation rewrite entirely.
        # Without this, every vacuum call on an already-clean store
        # rewrote a full new chunks generation and (with
        # ``retain_seconds`` > 0) retained the superseded one for the
        # whole grace window — frequent retention-mode vacuums
        # multiplied live-chunk disk usage linearly in calls-per-window
        # (ADVICE r5).  Clean store → vacuum is a read-only no-op on
        # the chunk data.
        new_gen = None
        if n_dead:
            new_gen = _next_chunk_gen(conn)
            # Single blob-bearing job: the survivors' write reuses the
            # persisted ref-hash set; kept is total - n_dead (the
            # anti-join already counted the complement), no read-back
            # count.
            live = (
                chunks.join(refs, "hash", "left_semi")
                if refs is not None
                else chunks.limit(0)
            )
            from .writer import chunk_table_writer

            # same write options as the ingest path (hash bloom
            # filter): a vacuum rewrite must not silently degrade
            # point-fetch pruning
            chunk_table_writer(live).mode("overwrite").parquet(
                os.path.join(conn.path, new_gen)
            )
        _finish_chunk_pass(
            conn, new_gen, total, n_dead, retain_seconds, now, stats
        )
    finally:
        if refs is not None:
            refs.unpersist()


def compact_index(
    conn: Connection, version: int | None = None, var: str | None = None
) -> dict:
    """Materialize the resolved index of (version, var) as a new FULL
    generation, collapsing the delta-overlay chain that O(touched)
    commits (``index_mode="delta"``) accumulate.  After compaction,
    reads of this version scan one directory again and a following
    :func:`vacuum` drops the superseded generations.  Defaults: last
    committed version, every variable.  Like vacuum, must not race a
    concurrent writer to the same (version, var)."""
    vid = conn.last_version() if version is None else version
    if vid is None:
        raise ValueError("dataset has no committed versions")
    token = conn.metadata(vid)
    vars_ = [var] if var is not None else list(token.get("variables", {}))
    stats = {"compacted": 0, "skipped": 0}
    for v in vars_:
        gens = conn.index_gens(vid, v)
        needs = len(gens) > 1 or any(
            conn.index_gen_is_delta(vid, v, g) for g in gens
        )
        if not needs:
            stats["skipped"] += 1
            continue
        # claims the generation number exclusively (concurrent-writer
        # safe) and appends into the claimed dir; `_has_parquet` skips
        # underscore entries, so the generation stays invisible to
        # readers until its part files commit.  Same body as the write
        # paths' compact_every auto-trigger.
        from .writer import materialize_full_index

        materialize_full_index(conn, vid, v)
        stats["compacted"] += 1
    return stats
