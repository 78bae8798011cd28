"""Vacuum/GC + read-through cache behavior."""

from __future__ import annotations

import numpy as np

from mandoline_spark import reader, writer
from mandoline_spark.core import slab as sb
from mandoline_spark.core import slice as sl
from mandoline_spark.maintenance import vacuum

DDS = {
    "dimensions": {"x": 8, "y": 8},
    "chunk-dimensions": {"x": 4, "y": 4},
    "variables": {
        "foo": {"type": "int", "shape": ["x", "y"], "fill-value": 0}
    },
}

FULL = sl.mk_slice((0, 0), (8, 8))


def _write_version(conn, value):
    t = conn.add_version(DDS)
    writer.write_variable(conn, t, "foo", [sb.empty("int", FULL, value)])
    return conn.finish_version(t)


def test_vacuum_collects_failed_ingest(store):
    conn = store.create_dataset("ds")
    v1 = _write_version(conn, 1)

    # failed ingest: written, never committed
    t2 = conn.add_version(DDS)
    writer.write_variable(conn, t2, "foo", [sb.empty("int", FULL, 2)])

    before = conn.chunks_df().count()
    stats = vacuum(conn)
    assert stats["uncommitted_versions_removed"] == 1
    assert stats["chunks_removed"] >= 1
    assert conn.chunks_df().count() < before

    got = reader.get_slice(conn, reader.on_version(conn, v1), "foo", FULL)
    np.testing.assert_array_equal(got.data, np.ones((8, 8), np.int32))


def test_vacuum_unpersists_refs_on_failure(store, spark):
    """A vacuum that raises mid-rewrite must not leak the persisted
    ref-hash frame for the session's lifetime (ADVICE r8): the
    unpersist sits in a finally block, so an injected pointer-flip
    failure leaves the persistent-RDD census unchanged.  The byte cap
    0 keeps this local store on the Spark tier, which persists."""
    import pytest

    conn = store.create_dataset("ds")
    _write_version(conn, 1)
    # dead chunks: an uncommitted ingest makes the dirty path run
    t2 = conn.add_version(DDS)
    writer.write_variable(conn, t2, "foo", [sb.empty("int", FULL, 2)])
    conn.blob_local_fetch_max_bytes = 0

    orig = conn.fs.replace_text

    def boom(*a, **k):
        raise OSError("injected pointer-flip failure")

    conn.fs.replace_text = boom
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    try:
        with pytest.raises(OSError, match="injected"):
            vacuum(conn)
    finally:
        conn.fs.replace_text = orig
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after == before, "vacuum leaked a persisted refs frame"


def test_local_vacuum_flip_failure_keeps_old_generation(store):
    """The driver tier's twin of the test above: a pointer-flip failure
    after the survivors are written leaves ``CHUNKS`` naming the old
    generation and every committed version readable."""
    import os

    import pytest

    conn = store.create_dataset("ds")
    v1 = _write_version(conn, 1)
    t2 = conn.add_version(DDS)
    writer.write_variable(conn, t2, "foo", [sb.empty("int", FULL, 2)])
    vacuum(conn)  # first collection: CHUNKS names chunks.g0
    v3 = _write_version(conn, 3)
    t4 = conn.add_version(DDS)
    writer.write_variable(conn, t4, "foo", [sb.empty("int", FULL, 4)])
    ptr = os.path.join(conn.path, "CHUNKS")
    assert conn.fs.read_text(ptr).strip() == "chunks.g0"

    def boom(*a, **k):
        raise OSError("injected pointer-flip failure")

    conn.fs.replace_text = boom
    try:
        with pytest.raises(OSError, match="injected"):
            vacuum(conn)
    finally:
        del conn.fs.replace_text
    assert conn.fs.read_text(ptr).strip() == "chunks.g0"
    for v, val in [(v1, 1), (v3, 3)]:
        got = reader.get_slice(conn, reader.on_version(conn, v), "foo", FULL)
        np.testing.assert_array_equal(
            got.data, np.full((8, 8), val, np.int32)
        )


def test_vacuum_keeps_time_travel(store):
    conn = store.create_dataset("ds")
    v1 = _write_version(conn, 1)
    v2 = _write_version(conn, 2)

    # two flushes to one version → superseded generation exists
    t3 = conn.add_version(DDS)
    writer.write_variable(conn, t3, "foo", [sb.empty("int", FULL, 3)])
    writer.write_variable(
        conn, t3, "foo",
        [sb.Slab(np.full((4, 4), 9, np.int32), sl.mk_slice((0, 0), (4, 4)))],
    )
    v3 = conn.finish_version(t3)

    stats = vacuum(conn)
    assert stats["index_gens_removed"] >= 1
    assert stats["chunks_removed"] == 0  # every version still committed

    for v, val in [(v1, 1), (v2, 2)]:
        got = reader.get_slice(conn, reader.on_version(conn, v), "foo", FULL)
        np.testing.assert_array_equal(
            got.data, np.full((8, 8), val, np.int32)
        )
    got3 = reader.get_slice(conn, reader.on_version(conn, v3), "foo", FULL)
    oracle = np.full((8, 8), 3, np.int32)
    oracle[:4, :4] = 9
    np.testing.assert_array_equal(got3.data, oracle)


def test_cached_reads_and_invalidation(store):
    conn = store.create_dataset("ds")
    v1 = _write_version(conn, 1)
    conn.cache_reads = True

    df1 = conn.chunks_df()
    assert df1.storageLevel.useMemory
    assert conn.chunks_df() is df1  # memoized

    got = reader.get_slice(conn, reader.on_version(conn, v1), "foo", FULL)
    np.testing.assert_array_equal(got.data, np.ones((8, 8), np.int32))

    # a write invalidates; subsequent reads see the new version
    v2 = _write_version(conn, 2)
    assert conn.chunks_df() is not df1
    got2 = reader.get_slice(conn, reader.on_version(conn, v2), "foo", FULL)
    np.testing.assert_array_equal(got2.data, np.full((8, 8), 2, np.int32))
    conn.invalidate_cache()


def test_driver_read_caches_coherent(store):
    """LRU blob + index-map cached reads equal uncached reads, and a
    new version's write invalidates them (no stale chunk served)."""
    import numpy as np

    from mandoline_spark import reader
    from mandoline_spark.core import slice as sl

    conn = store.create_dataset("ds")
    _write_version(conn, 1)
    req = sl.mk_slice((0, 0), (8, 8))

    conn.cache_reads = True
    t1 = reader.on_last_version(conn)
    first = reader.get_slice(conn, t1, "foo", req).data
    warm = reader.get_slice(conn, t1, "foo", req).data
    np.testing.assert_array_equal(first, warm)
    np.testing.assert_array_equal(first, np.full((8, 8), 1, np.int32))

    _write_version(conn, 2)
    t2 = reader.on_last_version(conn)
    after = reader.get_slice(conn, t2, "foo", req).data
    np.testing.assert_array_equal(after, np.full((8, 8), 2, np.int32))
    # old version still readable (cache keyed by version)
    old = reader.get_slice(conn, t1, "foo", req).data
    np.testing.assert_array_equal(old, np.full((8, 8), 1, np.int32))


def test_vacuum_retention_window_protects_readers(store, monkeypatch):
    """With retain_seconds > 0, superseded chunk/index generations
    survive the pointer flip for the grace period — a reader that
    resolved the old generation before vacuum completes unharmed — and
    a later vacuum collects them once aged out."""
    import os
    import time as _time

    import mandoline_spark.maintenance as mnt

    conn = store.create_dataset("ds")
    v1 = _write_version(conn, 1)
    # second flush to a new version: v1's chunks stay referenced, but
    # force a superseded index generation via a double flush
    t2 = conn.add_version(DDS)
    writer.write_variable(conn, t2, "foo", [sb.empty("int", FULL, 2)])
    writer.write_variable(conn, t2, "foo", [sb.empty("int", FULL, 3)])
    conn.finish_version(t2)

    old_chunks = conn.chunks_path()
    stats = vacuum(conn, retain_seconds=3600)
    assert stats["index_gens_retained"] >= 1
    assert stats["index_gens_removed"] == 0
    assert stats["chunk_gens_retained"] == 1
    # the old generation is still on disk, marked; the pointer moved
    assert conn.fs.isdir(old_chunks)
    assert conn.fs.exists(os.path.join(old_chunks, "_SUPERSEDED"))
    assert conn.chunks_path() != old_chunks
    # a reader that resolved the OLD generation can still read it
    # (chunk batches live in per-job subdirs, hence the recursive read)
    assert (
        store.spark.read.option("recursiveFileLookup", "true")
        .parquet(old_chunks)
        .count()
        > 0
    )
    # and normal reads work against the new pointer
    got = reader.get_slice(conn, reader.on_version(conn, v1), "foo", FULL)
    np.testing.assert_array_equal(got.data, np.ones((8, 8), np.int32))

    # age the markers out and vacuum again: everything superseded goes
    real_time = _time.time
    monkeypatch.setattr(
        mnt.time, "time", lambda: real_time() + 7200
    )
    stats2 = vacuum(conn, retain_seconds=3600)
    assert not conn.fs.isdir(old_chunks)
    assert stats2["index_gens_removed"] >= 1
    # the store is clean by now, so this vacuum performs NO rewrite of
    # its own (the idempotence contract) — it only collects the aged
    # generation above; nothing new is retained
    assert stats2["chunk_gens_retained"] == 0
    assert stats2["chunks_removed"] == 0
    # the aged-out superseded generation is counted (VERDICT r7 #4:
    # clean-path deletions were previously invisible in stats)
    assert stats2["chunk_gens_removed"] == 1


def test_vacuum_removes_stale_claims(store):
    """A writer that crashed after claim_index_gen but before its
    parquet append leaves a _CLAIM-only g=N dir; vacuum collects it on
    committed versions (ADVICE r4) so generation numbers aren't pinned
    forever."""
    from mandoline_spark.writer import claim_index_gen

    conn = store.create_dataset("ds")
    v1 = _write_version(conn, 1)
    # simulate the crash: claim, never append
    gen_path, gen = claim_index_gen(conn, v1, "foo")
    assert conn.fs.isdir(gen_path)
    stats = vacuum(conn)
    assert stats["stale_claims_removed"] == 1
    # r13: collection collapses the husk to a durable _RELEASED
    # tombstone (a counted position for the completeness walk), it no
    # longer rmtrees the directory
    import os as _os

    assert conn.fs.exists(_os.path.join(gen_path, "_RELEASED"))
    assert not conn.fs.exists(_os.path.join(gen_path, "_CLAIM"))
    # committed data unaffected
    got = reader.get_slice(conn, reader.on_version(conn, v1), "foo", FULL)
    np.testing.assert_array_equal(got.data, np.ones((8, 8), np.int32))


def test_compact_every_caps_overlay_depth(store):
    """compact_every auto-collapses the delta chain: 22 delta commits
    with compact_every=8 never let a read scan 8+ generation
    directories, and the data read back is last-writer-wins correct
    (VERDICT r5 #6 — the read-latency-flatness guarantee)."""
    from mandoline_spark.writer import overlay_depth

    conn = store.create_dataset("ds")
    t = conn.add_version(DDS)
    writer.write_variable(conn, t, "foo", [sb.empty("int", FULL, 1)])
    for k in range(22):
        cell = sl.mk_slice((0, 0), (4, 4))
        writer.write_variable(
            conn, t, "foo",
            [sb.Slab(np.full((4, 4), k, np.int32), cell)],
            index_mode="delta",
            compact_every=8,
        )
        assert overlay_depth(conn, t["version-id"], "foo") < 8 + 1
    v = conn.finish_version(t)
    got = reader.get_slice(conn, reader.on_version(conn, v), "foo", FULL)
    expect = np.ones((8, 8), np.int32)
    expect[:4, :4] = 21
    np.testing.assert_array_equal(got.data, expect)


def test_compact_every_zero_disables(store):
    from mandoline_spark.writer import overlay_depth

    conn = store.create_dataset("ds")
    t = conn.add_version(DDS)
    writer.write_variable(conn, t, "foo", [sb.empty("int", FULL, 1)])
    for k in range(5):
        writer.write_variable(
            conn, t, "foo",
            [sb.Slab(np.full((4, 4), k, np.int32),
                     sl.mk_slice((0, 0), (4, 4)))],
            index_mode="delta",
            compact_every=0,
        )
    # full base + 5 deltas, untouched
    assert overlay_depth(conn, t["version-id"], "foo") == 6


def test_compact_every_session_conf_default(store, spark):
    """None defers to spark.mandoline.compactEvery."""
    from mandoline_spark.writer import overlay_depth

    spark.conf.set("spark.mandoline.compactEvery", "3")
    try:
        conn = store.create_dataset("ds")
        t = conn.add_version(DDS)
        writer.write_variable(conn, t, "foo", [sb.empty("int", FULL, 1)])
        for k in range(4):
            writer.write_variable(
                conn, t, "foo",
                [sb.Slab(np.full((4, 4), k, np.int32),
                         sl.mk_slice((4, 4), (8, 8)))],
                index_mode="delta",
            )
            assert overlay_depth(conn, t["version-id"], "foo") < 4
    finally:
        spark.conf.unset("spark.mandoline.compactEvery")


# -- GC on lagged listings: loud aborts, never silent deletion (r12) ----------


def _lagged_conn(spark, tmp_path):
    from mandoline_spark.store import Store
    from tests.faults import ObjectStoreFS

    store = Store(spark, str(tmp_path), fs=ObjectStoreFS(lag=10_000))
    return store.create_dataset("ds")


def _drain(conn, n=10_100):
    import os

    d = os.path.join(conn.path, "versions")
    for _ in range(n):
        conn.fs.listdir(d)


def test_vacuum_aborts_on_lag_hidden_version(spark, tmp_path):
    """A committed version whose mirror is lag-hidden from the
    versions listing must make vacuum fail loud: its index tree looks
    uncommitted and its chunks unreferenced — deleting would destroy
    committed data.  After the listing drains, vacuum proceeds."""
    import pytest

    conn = _lagged_conn(spark, tmp_path)
    t1 = conn.add_version(DDS)
    writer.write_variable(conn, t1, "foo", [sb.empty("int", FULL, 1)])
    _drain(conn)
    v1 = conn.finish_version(t1)
    # NO drain: the version mirror answers GETs but the listing hides
    # it, so vacuum's committed-set is stale.  The tip-latch probe
    # catches this FIRST (the commit's parent-named latch answers
    # strong GETs even when the mirror, latch and index tree are all
    # unlisted — the fully-hidden case the per-directory mirror probe
    # alone cannot see).
    with pytest.raises(RuntimeError, match="view of history is incomplete"):
        vacuum(conn)
    _drain(conn)
    stats = vacuum(conn)
    assert stats["uncommitted_versions_removed"] == 0
    got = reader.get_slice(conn, reader.on_version(conn, v1), "foo", FULL)
    np.testing.assert_array_equal(got.data, np.ones((8, 8), np.int32))


def test_vacuum_aborts_on_lag_hidden_generation(spark, tmp_path):
    """A committed version with a lag-hidden index GENERATION (claimed
    + parquet, missing from the listing) must make vacuum fail loud:
    the hidden generation's hashes would be missing from the ref set
    and its live blobs collected.  After the drain, vacuum keeps
    them."""
    import pytest

    from mandoline_spark.writer import ConcurrentWriteError

    conn = _lagged_conn(spark, tmp_path)
    t1 = conn.add_version(DDS)
    writer.write_variable(conn, t1, "foo", [sb.empty("int", FULL, 1)])
    writer.write_variable(
        conn, t1, "foo",
        [sb.empty("int", sl.mk_slice((0, 0), (4, 4)), 5)],
        index_mode="delta",
    )
    _drain(conn)
    v1 = conn.finish_version(t1)
    _drain(conn)
    # maintenance on committed versions: compact_index collapses the
    # delta chain into a new full generation whose directory is
    # lag-hidden at this point
    from mandoline_spark.maintenance import compact_index

    stats0 = compact_index(conn, v1, "foo")
    assert stats0["compacted"] == 1
    with pytest.raises(ConcurrentWriteError, match="list-after-write"):
        vacuum(conn)
    _drain(conn)
    vacuum(conn)
    got = reader.get_slice(conn, reader.on_version(conn, v1), "foo", FULL)
    oracle = np.ones((8, 8), np.int32)
    oracle[:4, :4] = 5
    np.testing.assert_array_equal(got.data, oracle)


def test_vacuum_keeps_sealed_generation_with_unlisted_parquet(spark, tmp_path):
    """A _SEALED generation whose parquet keys are not listable is a
    COMMITTED generation behind listing lag, not a claim husk: vacuum
    must abort loudly instead of collecting it (the seal is the strong
    per-key evidence that distinguishes the two — a listing probe
    alone cannot)."""
    import os

    import pytest

    from mandoline_spark.writer import ConcurrentWriteError

    conn = _lagged_conn(spark, tmp_path)
    t1 = conn.add_version(DDS)
    writer.write_variable(conn, t1, "foo", [sb.empty("int", FULL, 1)])
    _drain(conn)
    v1 = conn.finish_version(t1)
    _drain(conn)
    # simulate a committed generation whose parquet keys lag out of
    # EVERY listing: claim + seal present (strong keys), no listable
    # parquet at all
    gp = conn.index_path(v1, "foo", 1)
    conn.fs.makedirs(gp)
    assert conn.fs.create_exclusive(os.path.join(gp, "_CLAIM"), "")
    conn.fs.write_text(os.path.join(gp, "_SEALED"), "")
    with pytest.raises(ConcurrentWriteError, match="list-after-write"):
        vacuum(conn)
    assert conn.fs.isdir(gp)  # nothing was deleted


def test_release_claim_refuses_sealed_generation(spark, tmp_path):
    """release_claim must treat a _SEALED generation as committed data
    even when its parquet keys answer no listing (lagged store) — the
    operator-unwedge path must not become the one place a completed
    generation can still be deleted as a 'husk'."""
    import os

    import pytest

    conn = _lagged_conn(spark, tmp_path)
    t1 = conn.add_version(DDS)
    writer.write_variable(conn, t1, "foo", [sb.empty("int", FULL, 1)])
    _drain(conn)
    v1 = conn.finish_version(t1)
    _drain(conn)
    # claim + seal, parquet keys never listable (simulated completed
    # append behind permanent listing lag)
    gp = conn.index_path(v1, "foo", 1)
    conn.fs.makedirs(gp)
    assert conn.fs.create_exclusive(os.path.join(gp, "_CLAIM"), "")
    conn.fs.write_text(os.path.join(gp, "_SEALED"), "")
    with pytest.raises(ValueError, match="real generation"):
        writer.release_claim(conn, v1, "foo", 1)
    assert conn.fs.isdir(gp)
    # an UNSEALED parquet-less claim is still releasable
    gp2 = conn.index_path(v1, "foo", 2)
    conn.fs.makedirs(gp2)
    assert conn.fs.create_exclusive(os.path.join(gp2, "_CLAIM"), "")
    writer.release_claim(conn, v1, "foo", 2)
    # the release leaves a durable _RELEASED tombstone (a counted
    # position for check_generations_complete's contiguity walk), not
    # a bare deletion — and the claim marker itself is gone
    assert conn.fs.exists(os.path.join(gp2, "_RELEASED"))
    assert not conn.fs.exists(os.path.join(gp2, "_CLAIM"))


def test_released_claim_run_does_not_mask_hidden_generation(spark, tmp_path):
    """r13: >=3 contiguous operator release_claims below a still
    lag-hidden SEALED generation must not end the completeness walk
    early — each release leaves a durable _RELEASED tombstone the walk
    counts as a covered position, so the probe still reaches (and
    aborts loudly on) the hidden committed generation.  Before the
    tombstone, visible=[0] + released husks 1-4 gave four misses in a
    row and sealed gen 5 was never probed (r12 advice)."""
    import os

    import pytest

    from mandoline_spark.writer import ConcurrentWriteError

    conn = _lagged_conn(spark, tmp_path)
    t1 = conn.add_version(DDS)
    writer.write_variable(conn, t1, "foo", [sb.empty("int", FULL, 1)])
    _drain(conn)
    vid = t1["version-id"]
    # four crashed shard writers: claims g=1..4, never appended;
    # the operator affirms them dead and releases all four
    for g in range(1, 5):
        gp = conn.index_path(vid, "foo", g)
        conn.fs.makedirs(gp)
        assert conn.fs.create_exclusive(os.path.join(gp, "_CLAIM"), "")
        writer.release_claim(conn, vid, "foo", g)
        assert conn.fs.exists(os.path.join(gp, "_RELEASED"))
    # a fifth writer COMMITTED (claim + seal, strong keys) but its
    # directory keys lag out of every listing
    gp5 = conn.index_path(vid, "foo", 5)
    conn.fs.makedirs(gp5)
    assert conn.fs.create_exclusive(os.path.join(gp5, "_CLAIM"), "")
    conn.fs.write_text(os.path.join(gp5, "_SEALED"), "")
    with pytest.raises(ConcurrentWriteError, match="list-after-write"):
        writer.check_generations_complete(conn, vid, "foo")


def test_nonempty_ingest_not_dropped_by_lagged_listing(spark, tmp_path):
    """r13 (r12 advice, medium): _commit_merged decides generation
    emptiness from the DATA side (an Observation on the append), never
    from a post-append listing.  On a list-after-write-lagged store a
    NON-empty freshly appended generation whose parquet keys are not
    listable yet must be sealed and survive — the listing-based probe
    classified it as empty, deleted it, and reported the ingest as a
    successful no-op (silent data loss).  Spark's JVM writes bypass
    the ObjectStoreFS lag marking, so the lag is injected at the
    listdir the engine's own probes use."""
    import os

    from mandoline_spark.store import Store

    store = Store(spark, str(tmp_path))
    conn = store.create_dataset("ds")
    spec = {
        "dimensions": {"x": 8},
        "chunk-dimensions": {"x": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x"], "fill-value": -1}
        },
    }
    tok = conn.add_version(spec)
    idx_root = os.path.normpath(os.path.join(conn.path, "index"))
    real_listdir = conn.fs.listdir

    def lagged_listdir(path):
        names = real_listdir(path)
        if os.path.normpath(path).startswith(idx_root):
            # every non-underscore key under the index tree is "not
            # listable yet"; per-key GETs (exists/read_text) and
            # Spark's own JVM reads stay strong
            return [n for n in names if n.startswith(("_", "."))]
        return names

    data = np.arange(8, dtype=np.int32)
    slabs = [
        sb.Slab(data[:4], sl.mk_slice((0,), (4,))),
        sb.Slab(data[4:], sl.mk_slice((4,), (8,))),
    ]
    rows = writer.slabs_to_piece_rows(tok, "v", slabs)
    pieces = conn.spark.createDataFrame(
        rows, schema=writer.piece_schema(1)
    )
    conn.fs.listdir = lagged_listdir
    try:
        writer.ingest_aligned(conn, tok, "v", pieces)
    finally:
        conn.fs.listdir = real_listdir
    # the generation was sealed, not deleted as "empty"
    gp = conn.index_path(tok["version-id"], "v", 0)
    assert conn.fs.exists(os.path.join(gp, "_SEALED"))
    vfin = conn.finish_version(tok)
    conn.invalidate_cache()
    got = reader.get_slice(
        conn, reader.on_version(conn, vfin), "v", sl.mk_slice((0,), (8,))
    )
    np.testing.assert_array_equal(got.data, data)


def test_vacuum_retains_young_unsealed_claims_for_readers(store):
    """r13 (r12 advice): phase (d)'s residual window — an unsealed
    generation whose parquet keys merely lag the vacuum's listing —
    excludes concurrent readers only under retain_seconds=0.  With a
    grace window, a parquet-less unsealed claim is RETAINED on first
    sight (an in-flight reader with a fresher listing drains first)
    and collected into a _RELEASED tombstone only once aged out."""
    import os
    import time as _time

    conn = store.create_dataset("ds")
    v1 = _write_version(conn, 1)
    gp = conn.index_path(v1, "foo", 1)
    conn.fs.makedirs(gp)
    assert conn.fs.create_exclusive(os.path.join(gp, "_CLAIM"), "")
    stats = vacuum(conn, retain_seconds=3600)
    assert stats["stale_claims_removed"] == 0
    assert stats["stale_claims_retained"] == 1
    assert conn.fs.exists(os.path.join(gp, "_CLAIM"))  # untouched
    # age the marker out and vacuum again: collected into a tombstone
    conn.fs.write_text(
        os.path.join(gp, "_SUPERSEDED"), f"{_time.time() - 7200}\n"
    )
    stats2 = vacuum(conn, retain_seconds=3600)
    assert stats2["stale_claims_removed"] == 1
    assert conn.fs.exists(os.path.join(gp, "_RELEASED"))
    assert not conn.fs.exists(os.path.join(gp, "_CLAIM"))
    # a later vacuum leaves the tombstone alone (a counted position,
    # not garbage)
    stats3 = vacuum(conn, retain_seconds=3600)
    assert stats3["stale_claims_removed"] == 0
    assert stats3["stale_claims_retained"] == 0
    assert conn.fs.exists(os.path.join(gp, "_RELEASED"))


def test_vacuum_settled_proceeds_on_inflight_latch(spark, tmp_path):
    """r13 (r12 verdict stretch #7), lagged-store half: a commit atop
    the visible tip whose parent-named latch answers strong GETs but
    evades the listing makes full-scope vacuum abort (the whole view
    of history may be stale) — scope="settled" proceeds and collects
    only commit-independent garbage, leaving the in-flight version's
    index tree and chunks untouched."""
    import os

    import pytest

    from mandoline_spark.core import metadata as md

    conn = _lagged_conn(spark, tmp_path)
    t1 = conn.add_version(DDS)
    writer.write_variable(conn, t1, "foo", [sb.empty("int", FULL, 1)])
    _drain(conn)  # full mode needs its own generation listed
    # second full generation supersedes the first
    writer.write_variable(conn, t1, "foo", [sb.empty("int", FULL, 2)])
    _drain(conn)
    v1 = conn.finish_version(t1)
    _drain(conn)

    # the in-flight commit: data appended, latch created, mirror not
    # yet written; nothing drained since, so the latch and the new
    # version's whole tree evade every listing while answering GETs
    t2 = conn.add_version(DDS)
    writer.write_variable(conn, t2, "foo", [sb.empty("int", FULL, 9)])
    v2 = t2["version-id"]
    latch = os.path.join(conn.path, "versions", f"n{v1}.json")
    assert conn.fs.create_exclusive(latch, md.generate_metadata(dict(t2)))

    with pytest.raises(RuntimeError, match="settled"):
        vacuum(conn)

    # r14: settled mode with the retain_seconds=0 default warns — its
    # premise is concurrent readers, and immediate deletion of
    # superseded generations can yank files from a mid-scan reader
    with pytest.warns(UserWarning, match="settled"):
        stats = vacuum(conn, scope="settled")
    assert stats["index_gens_removed"] == 1  # v1's superseded full g=0
    assert stats["uncommitted_versions_removed"] == 0
    assert stats["chunks_removed"] == 0
    assert conn.fs.isdir(conn.index_path(v2, "foo"))

    # the in-flight commit completes (mirror write), everything reads
    conn.fs.write_text(
        os.path.join(conn.path, "versions", f"{v2}.json"),
        md.generate_metadata(dict(t2)),
    )
    _drain(conn)
    conn.invalidate_cache()
    got1 = reader.get_slice(conn, reader.on_version(conn, v1), "foo", FULL)
    np.testing.assert_array_equal(got1.data, np.full((8, 8), 2, np.int32))
    got2 = reader.get_slice(conn, reader.on_version(conn, v2), "foo", FULL)
    np.testing.assert_array_equal(got2.data, np.full((8, 8), 9, np.int32))
