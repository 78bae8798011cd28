"""Zero-shuffle aligned bulk-ingest path (writer.ingest_aligned).

The aligned path must produce byte-identical store state to the general
write_pieces path (same content addressing, same index), reject
precondition violations, and be picked automatically by write_variable
for chunk-aligned disjoint slab sets.
"""

from __future__ import annotations

import numpy as np
import pytest

from mandoline_spark import reader, writer
from mandoline_spark.core import slab as sb
from mandoline_spark.core import slice as sl

SPEC = {
    "dimensions": {"x": 8, "y": 6},
    "chunk-dimensions": {"x": 4, "y": 3},
    "variables": {
        "v": {"type": "int", "shape": ["x", "y"], "fill-value": -1},
    },
}


def _aligned_slabs():
    rng = np.random.default_rng(7)
    slabs = []
    for cx in range(2):
        for cy in range(2):
            a = rng.integers(-100, 100, (4, 3)).astype(np.int32)
            slabs.append(
                sb.Slab(a, sl.mk_slice((4 * cx, 3 * cy), (4 * cx + 4, 3 * cy + 3)))
            )
    return slabs


def _read_full(conn):
    t = reader.on_last_version(conn)
    return reader.get_slice(conn, t, "v", sl.mk_slice((0, 0), (8, 6))).data


def test_aligned_matches_general_path(store_factory):
    slabs = _aligned_slabs()
    oracle = np.full((8, 6), -1, np.int32)
    for s in slabs:
        oracle[tuple(slice(a, b) for a, b in zip(s.slice.start, s.slice.stop))] = s.data

    results = []
    hashes = []
    for use_aligned in (False, True):
        conn = store_factory()
        token = conn.add_version(SPEC)
        rows = writer.slabs_to_piece_rows(token, "v", slabs)
        pieces = conn.spark.createDataFrame(rows, schema=writer.piece_schema(2))
        if use_aligned:
            writer.ingest_aligned(conn, token, "v", pieces)
        else:
            writer.write_pieces(conn, token, "v", pieces)
        conn.finish_version(token)
        results.append(_read_full(conn))
        idx = conn.resolve_index_df(conn.last_version(), "v")
        hashes.append(
            sorted(r["chunk_hash"] for r in idx.select("chunk_hash").collect())
        )
    assert np.array_equal(results[0], oracle)
    assert np.array_equal(results[1], oracle)
    # content addressing identical across paths
    assert hashes[0] == hashes[1]


def test_misaligned_piece_rejected(store):
    conn = store.create_dataset("ds")
    token = conn.add_version(SPEC)
    # covers only half of chunk (0,0)
    part = sb.Slab(
        np.ones((2, 3), np.int32), sl.mk_slice((0, 0), (2, 3))
    )
    rows = writer.slabs_to_piece_rows(token, "v", [part])
    pieces = conn.spark.createDataFrame(rows, schema=writer.piece_schema(2))
    with pytest.raises(ValueError, match="cover their whole chunk"):
        writer.ingest_aligned(conn, token, "v", pieces)
    # failed ingest stays invisible: no committed version
    assert conn.last_version() is None


def test_duplicate_chunk_rejected(store):
    conn = store.create_dataset("ds")
    token = conn.add_version(SPEC)
    one = sb.Slab(np.ones((4, 3), np.int32), sl.mk_slice((0, 0), (4, 3)))
    rows = writer.slabs_to_piece_rows(token, "v", [one, one])
    pieces = conn.spark.createDataFrame(rows, schema=writer.piece_schema(2))
    with pytest.raises(ValueError, match="same chunk"):
        writer.ingest_aligned(conn, token, "v", pieces)


def test_write_variable_autoroutes(store, monkeypatch):
    conn = store.create_dataset("ds")
    token = conn.add_version(SPEC)
    # the routing below is the Spark tier's: keep this local store off
    # the driver write tier, which would otherwise take both writes
    monkeypatch.setattr(writer, "_driver_write", lambda *a, **k: False)
    calls = {"aligned": 0, "general": 0}
    real_aligned, real_general = writer.ingest_aligned, writer.write_pieces
    monkeypatch.setattr(
        writer,
        "ingest_aligned",
        lambda *a, **k: (calls.__setitem__("aligned", calls["aligned"] + 1),
                        real_aligned(*a, **k))[1],
    )
    monkeypatch.setattr(
        writer,
        "write_pieces",
        lambda *a, **k: (calls.__setitem__("general", calls["general"] + 1),
                        real_general(*a, **k))[1],
    )
    writer.write_variable(conn, token, "v", _aligned_slabs())
    assert calls == {"aligned": 1, "general": 0}
    # a partial slab forces the general merge path
    part = sb.Slab(np.full((2, 2), 5, np.int32), sl.mk_slice((1, 1), (3, 3)))
    writer.write_variable(conn, token, "v", [part])
    assert calls == {"aligned": 1, "general": 1}
    conn.finish_version(token)
    oracle = np.full((8, 6), -1, np.int32)
    for s in _aligned_slabs():
        oracle[tuple(slice(a, b) for a, b in zip(s.slice.start, s.slice.stop))] = s.data
    oracle[1:3, 1:3] = 5
    assert np.array_equal(_read_full(conn), oracle)


def test_aligned_overwrite_on_parent(store):
    """Aligned pieces fully replace their chunks even when a parent
    version exists — no base merge is needed for full-cover writes."""
    conn = store.create_dataset("ds")
    t1 = conn.add_version(SPEC)
    writer.write_variable(conn, t1, "v", _aligned_slabs())
    conn.finish_version(t1)

    t2 = conn.add_version(SPEC)
    new = sb.Slab(np.full((4, 3), 42, np.int32), sl.mk_slice((4, 3), (8, 6)))
    rows = writer.slabs_to_piece_rows(t2, "v", [new])
    pieces = conn.spark.createDataFrame(rows, schema=writer.piece_schema(2))
    writer.ingest_aligned(conn, t2, "v", pieces)
    conn.finish_version(t2)

    oracle = np.full((8, 6), -1, np.int32)
    for s in _aligned_slabs():
        oracle[tuple(slice(a, b) for a, b in zip(s.slice.start, s.slice.stop))] = s.data
    oracle[4:8, 3:6] = 42
    assert np.array_equal(_read_full(conn), oracle)


def test_empty_pieces_is_a_noop_not_a_wedge(store, spark):
    """An externally-built pieces frame that filtered to ZERO rows must
    leave no index generation at all — before r12's _SEALED markers an
    empty append left an invisible husk; sealing that husk would have
    read as a lag-hidden committed generation and permanently wedged
    finish_version (and release_claim refuses sealed gens)."""
    import numpy as np

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl

    spec = {
        "dimensions": {"x": 8},
        "chunk-dimensions": {"x": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x"], "fill-value": -1}
        },
    }
    conn = store.create_dataset("ds")
    tok = conn.add_version(spec)
    empty = spark.createDataFrame([], schema=writer.piece_schema(1))
    writer.ingest_aligned(conn, tok, "v", empty)
    # either no generation at all (rowless append left no part files,
    # claim dropped) or a sealed zero-row generation (harmless no-op
    # overlay) — NEVER a sealed parquet-less dir, which would wedge
    gens = conn.index_gens(tok["version-id"], "v")
    assert gens in ([], [0])
    # a real write and the commit still go through cleanly
    writer.write_variable(
        conn, tok, "v", [sb.empty("int", sl.mk_slice((0,), (8,)), 5)]
    )
    vid = conn.finish_version(tok)
    got = reader.get_slice(
        conn, reader.on_version(conn, vid), "v", sl.mk_slice((0,), (8,))
    )
    np.testing.assert_array_equal(got.data, np.full(8, 5, np.int32))


def test_violating_generation_hard_deleted_then_tombstoned(store):
    """r14 self-review: the cleanup of a precondition-violating aligned
    ingest must (a) destroy the generation's PARQUET with the strong
    rmtree — a listdir-based tombstone sweep can miss freshly-appended,
    not-yet-listable part files on a lagged store, and a
    lag-resurrected generation with duplicate ckeys would become the
    documented write_pieces retry's read-modify-write base — and
    (b) re-create the slot as a counted _RELEASED position so the
    completeness walk's upper bound stays hole-independent.  The
    documented recovery (write_pieces under the SAME token) must then
    work and reclaim the slot."""
    import os

    from mandoline_spark.store import _has_parquet

    conn = store.create_dataset("ds")
    token = conn.add_version(SPEC)
    one = sb.Slab(np.ones((4, 3), np.int32), sl.mk_slice((0, 0), (4, 3)))
    rows = writer.slabs_to_piece_rows(token, "v", [one, one])
    pieces = conn.spark.createDataFrame(rows, schema=writer.piece_schema(2))
    with pytest.raises(ValueError, match="same chunk"):
        writer.ingest_aligned(conn, token, "v", pieces)
    vid = token["version-id"]
    gen_path = conn.index_path(vid, "v", 0)
    assert conn.fs.exists(os.path.join(gen_path, "_RELEASED"))
    assert not conn.fs.exists(os.path.join(gen_path, "_CLAIM"))
    assert not _has_parquet(conn.fs, gen_path)
    conn.invalidate_cache()
    assert conn.index_gens(vid, "v") == []
    # retry with the general path under the same token: reclaims the
    # tombstoned slot (clearing its stale _RELEASED) and commits
    rows2 = writer.slabs_to_piece_rows(token, "v", [one])
    pieces2 = conn.spark.createDataFrame(
        rows2, schema=writer.piece_schema(2)
    )
    writer.write_pieces(conn, token, "v", pieces2)
    conn.invalidate_cache()
    assert conn.index_gens(vid, "v") == [0]
    assert not conn.fs.exists(os.path.join(gen_path, "_RELEASED"))
    got = reader.get_slice(
        conn, dict(token), "v", sl.mk_slice((0, 0), (4, 3))
    ).data
    np.testing.assert_array_equal(got, np.ones((4, 3), np.int32))


class _FailRecreateFS:
    """fs proxy: the recreate step of ingest_aligned's failure cleanup
    dies (crash-injection for the rmtree->makedirs->_RELEASED
    sequence).  Delegates everything else."""

    def __init__(self, fs, gen_path):
        self._fs = fs
        self._gen_path = gen_path
        self._armed = False  # only AFTER the cleanup's rmtree
        self.tripped = False

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rmtree(self, path):
        self._fs.rmtree(path)
        if path == self._gen_path:
            self._armed = True

    def makedirs(self, path):
        if path == self._gen_path and self._armed:
            # the post-rmtree RECREATE of the violating slot
            self.tripped = True
            raise OSError("injected: store died during cleanup")
        self._fs.makedirs(path)


def test_cleanup_crash_leaves_bare_hole_and_retry_recovers(store):
    """r14 advice (low) + VERDICT r14 #8: ingest_aligned's failure
    cleanup is best-effort — an IO failure in the recreate must NOT
    shadow the documented ValueError the retry path catches, and the
    resulting bare hole (rmtree done, recreate dead) must be handled no
    worse than pre-r14: the same-token write_pieces retry still claims
    the slot and commits."""
    import os

    conn = store.create_dataset("ds")
    token = conn.add_version(SPEC)
    one = sb.Slab(np.ones((4, 3), np.int32), sl.mk_slice((0, 0), (4, 3)))
    rows = writer.slabs_to_piece_rows(token, "v", [one, one])
    pieces = conn.spark.createDataFrame(rows, schema=writer.piece_schema(2))
    vid = token["version-id"]
    gen_path = conn.index_path(vid, "v", 0)
    real_fs = conn.fs
    conn.fs = _FailRecreateFS(real_fs, gen_path)
    try:
        # the ORIGINAL ValueError, not the injected OSError
        with pytest.raises(ValueError, match="same chunk"):
            writer.ingest_aligned(conn, token, "v", pieces)
        assert conn.fs.tripped
    finally:
        conn.fs = real_fs
    # bare hole: the slot is gone entirely (pre-r14 cleanup shape)
    assert not conn.fs.exists(gen_path)
    conn.invalidate_cache()
    assert conn.index_gens(vid, "v") == []
    # recovery contract unchanged: retry via write_pieces, commit, read
    rows2 = writer.slabs_to_piece_rows(token, "v", [one])
    pieces2 = conn.spark.createDataFrame(
        rows2, schema=writer.piece_schema(2)
    )
    writer.write_pieces(conn, token, "v", pieces2)
    conn.finish_version(token)
    got = reader.get_slice(
        conn, dict(token), "v", sl.mk_slice((0, 0), (4, 3))
    ).data
    np.testing.assert_array_equal(got, np.ones((4, 3), np.int32))


class _ReclaimOnRmtreeFS:
    """fs proxy: a concurrent claimant grabs the violating slot the
    instant the cleanup's rmtree frees it — the r14-advice race where
    stamping _RELEASED afterwards would corrupt a LIVE generation."""

    def __init__(self, fs, gen_path):
        self._fs = fs
        self._gen_path = gen_path
        self.reclaimed = False

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rmtree(self, path):
        self._fs.rmtree(path)
        if path == self._gen_path:
            import os

            self._fs.makedirs(path)
            assert self._fs.create_exclusive(
                os.path.join(path, "_CLAIM"), "reclaimer"
            )
            self.reclaimed = True


def test_cleanup_skips_released_when_slot_reclaimed(store):
    """If a concurrent claimant takes the freed slot between the
    cleanup's rmtree and its _RELEASED stamp, the stamp must be
    SKIPPED: a live claimed generation must never carry release state
    (r14 advice, low)."""
    import os

    conn = store.create_dataset("ds")
    token = conn.add_version(SPEC)
    one = sb.Slab(np.ones((4, 3), np.int32), sl.mk_slice((0, 0), (4, 3)))
    rows = writer.slabs_to_piece_rows(token, "v", [one, one])
    pieces = conn.spark.createDataFrame(rows, schema=writer.piece_schema(2))
    vid = token["version-id"]
    gen_path = conn.index_path(vid, "v", 0)
    real_fs = conn.fs
    conn.fs = _ReclaimOnRmtreeFS(real_fs, gen_path)
    try:
        with pytest.raises(ValueError, match="same chunk"):
            writer.ingest_aligned(conn, token, "v", pieces)
        assert conn.fs.reclaimed
    finally:
        conn.fs = real_fs
    # the reclaimer's live claim is untouched and carries NO _RELEASED
    assert conn.fs.exists(os.path.join(gen_path, "_CLAIM"))
    assert not conn.fs.exists(os.path.join(gen_path, "_RELEASED"))
    assert (
        conn.fs.read_text(os.path.join(gen_path, "_CLAIM"))
        == "reclaimer"
    )
