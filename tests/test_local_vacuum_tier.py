"""Vacuum's driver tier on local stores: the unreferenced-chunk pass
folds each committed version's own index generations and counts and
rewrites the chunk table with pyarrow, launching no Spark job, with the
read cache on or off.  Its results must equal the Spark tier's — same
stats, same surviving chunk hashes, same ``CHUNKS`` pointer — and every
committed version must read back unchanged."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import mandoline_spark.maintenance as mnt
from mandoline_spark import reader, writer
from mandoline_spark.core import slab as sb
from mandoline_spark.core import slice as sl
from mandoline_spark.maintenance import vacuum
from mandoline_spark.store import Store, _local_parquet_files

DDS = {
    "dimensions": {"x": 12, "y": 8},
    "chunk-dimensions": {"x": 4, "y": 4},
    "variables": {
        "v": {"type": "int", "shape": ["x", "y"], "fill-value": -7}
    },
}
FULL = sl.mk_slice((0, 0), (12, 8))
BOXES = [
    sl.mk_slice((1, 2), (7, 5)),
    sl.mk_slice((5, 0), (12, 3)),
    sl.mk_slice((0, 4), (4, 8)),
    sl.mk_slice((8, 6), (12, 8)),
]


def _random_slab(s: sl.Slice, seed: int) -> sb.Slab:
    rng = np.random.default_rng(seed)
    data = rng.integers(-1000, 1000, sl.get_shape(s)).astype(np.int32)
    return sb.Slab(data, s)


def _job_ids(spark) -> set:
    return set(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))


def _vacuum_jobs(conn, **kw) -> tuple[dict, int]:
    """(stats, Spark jobs launched) of one vacuum call."""
    ids0 = _job_ids(conn.spark)
    stats = vacuum(conn, **kw)
    return stats, len(_job_ids(conn.spark) - ids0)


def _stored_hashes(conn) -> list:
    return sorted(
        h
        for f in _local_parquet_files(conn.chunks_path())
        for h in pq.read_table(f, columns=["hash"]).column("hash").to_pylist()
    )


def _pointer(conn):
    p = os.path.join(conn.path, "CHUNKS")
    return conn.fs.read_text(p).strip() if conn.fs.exists(p) else None


def _reads(conn) -> list:
    return [
        reader.get_slice(conn, reader.on_version(conn, v), "v", FULL).data.tobytes()
        for v in conn.version_ids()
    ]


def _commit(conn, writes):
    """One version from ``writes``: (slab, index_mode) per flush."""
    t = conn.add_version(DDS)
    for slab, index_mode in writes:
        writer.write_variable(conn, t, "v", [slab], index_mode=index_mode)
    return conn.finish_version(t)


def _chain(conn):
    """12 versions: a full first commit, then delta-only versions; every
    third one writes its box twice, so the first flush's hashes are
    overwritten inside the version and referenced by nothing."""
    _commit(conn, [(_random_slab(FULL, 0), "full")])
    for i in range(1, 12):
        box = BOXES[i % len(BOXES)]
        writes = [(_random_slab(box, 100 + i), "delta")]
        if i % 3 == 0:
            writes.append((_random_slab(box, 200 + i), "delta"))
        _commit(conn, writes)


def _orphan(conn):
    """A committed version, then a failed ingest: written, never
    committed."""
    _commit(conn, [(_random_slab(FULL, 1), "full")])
    t = conn.add_version(DDS)
    writer.write_variable(conn, t, "v", [_random_slab(FULL, 2)])


def _two_flushes(conn):
    """Two full flushes into one version: the first index generation is
    superseded and its chunks are referenced by nothing."""
    _commit(conn, [(_random_slab(FULL, 3), "full")])
    _commit(conn, [(_random_slab(FULL, 4), "full"), (_random_slab(FULL, 5), "full")])
    _commit(conn, [(_random_slab(BOXES[0], 6), "delta")])


# (build, cache_reads, vacuum calls as (retain_seconds, clock offset))
SCENARIOS = {
    "chain": (_chain, False, [(0, 0), (0, 0)]),
    "orphan": (_orphan, True, [(0, 0), (0, 0)]),
    "two_flushes": (_two_flushes, False, [(0, 0)]),
    "retention": (_orphan, True, [(3600, 0), (3600, 7200)]),
}


@pytest.mark.parametrize("scenario", list(SCENARIOS))
def test_driver_vacuum_matches_spark_tier(store, spark, monkeypatch, scenario):
    """Each scenario on a store that takes the driver tier and on a twin
    forced onto Spark (``blob_local_fetch_max_bytes=0``): every vacuum
    call's stats, the surviving chunk hashes and the ``CHUNKS`` pointer
    are equal, the driver tier launches no Spark job — dirty and clean
    calls, read cache off and on — and every committed version reads
    back byte-equal after each call."""
    build, cache_reads, calls = SCENARIOS[scenario]
    real_time = mnt.time.time
    twins = {}
    for name, cap in (("driver", 256 << 20), ("spark", 0)):
        conn = store.create_dataset(name)
        build(conn)
        conn.cache_reads = cache_reads
        before = _reads(conn)
        results = []
        for retain, offset in calls:
            conn.blob_local_fetch_max_bytes = cap
            with monkeypatch.context() as m:
                m.setattr(mnt.time, "time", lambda: real_time() + offset)
                stats, jobs = _vacuum_jobs(conn, retain_seconds=retain)
            conn.blob_local_fetch_max_bytes = 256 << 20
            if cap:
                assert jobs == 0, f"driver vacuum launched {jobs} Spark jobs"
            else:
                assert jobs > 0, "byte cap 0 did not force the Spark tier"
            assert _reads(conn) == before
            results.append((stats, _stored_hashes(conn), _pointer(conn)))
        twins[name] = results
    assert twins["driver"] == twins["spark"]
    first = twins["driver"][0][0]
    assert first["chunks_removed"] > 0
    assert all(r[0]["chunks_removed"] == 0 for r in twins["driver"][1:])


def test_driver_survivors_read_through_spark(store, spark):
    """The survivors file a driver vacuum writes is read by the Spark
    tier too: a forced-Spark read after the vacuum equals the read
    before it."""
    conn = store.create_dataset("cross")
    _chain(conn)
    vid = conn.last_version()
    want = reader.get_slice(conn, reader.on_version(conn, vid), "v", FULL).data
    assert _vacuum_jobs(conn)[1] == 0
    assert _pointer(conn) == "chunks.g0"
    conn.blob_local_fetch_max_bytes = 0
    got = reader.get_slice(conn, reader.on_version(conn, vid), "v", FULL).data
    np.testing.assert_array_equal(got, want)


def test_driver_survivors_row_groups_are_bounded(store, spark, monkeypatch):
    """Survivors stream into ``part-0.parquet`` in row groups of about
    ``writer.CHUNK_ROW_GROUP_BYTES``, so a point read after a vacuum
    still decompresses one bounded row group."""
    monkeypatch.setattr(writer, "CHUNK_ROW_GROUP_BYTES", 1)
    conn = store.create_dataset("groups")
    _chain(conn)
    kept = len(_stored_hashes(conn))
    stats, jobs = _vacuum_jobs(conn)
    assert jobs == 0
    files = _local_parquet_files(conn.chunks_path())
    assert [os.path.basename(f) for f in files] == ["part-0.parquet"]
    groups = pq.ParquetFile(files[0]).num_row_groups
    assert groups > 1
    assert stats["chunks_kept"] == kept - stats["chunks_removed"]


def test_failed_survivor_write_leaves_no_visible_file(store, spark, monkeypatch):
    """A survivors write that fails part-way leaves no committed parquet
    file in the new generation — readers and a later vacuum skip the
    underscore name — and ``CHUNKS`` unflipped; the next vacuum
    completes the collection."""
    monkeypatch.setattr(writer, "CHUNK_ROW_GROUP_BYTES", 1)
    conn = store.create_dataset("partial")
    _orphan(conn)
    before = _reads(conn)
    orig = pq.ParquetWriter

    class Failing(orig):
        def write_table(self, *a, **k):
            super().write_table(*a, **k)
            raise OSError("injected survivor-write failure")

    monkeypatch.setattr(pq, "ParquetWriter", Failing)
    with pytest.raises(OSError, match="injected"):
        vacuum(conn)
    monkeypatch.setattr(pq, "ParquetWriter", orig)
    assert _local_parquet_files(os.path.join(conn.path, "chunks.g0")) == []
    assert _pointer(conn) is None
    assert _reads(conn) == before
    stats, jobs = _vacuum_jobs(conn)
    assert jobs == 0 and stats["chunks_removed"] > 0
    assert _pointer(conn) == "chunks.g0"
    assert _reads(conn) == before


def _chunk_cap(conn):
    conn.blob_local_fetch_max_bytes = 1


def _index_cap(conn):
    conn.index_map_max_entries = 1


@pytest.mark.parametrize(
    "gate", [_chunk_cap, _index_cap], ids=["chunk_cap", "index_cap"]
)
def test_ineligible_stores_take_spark(store, spark, gate):
    """A chunk table over ``blob_local_fetch_max_bytes`` and an index
    over ``index_map_max_entries`` each send the whole unreferenced-chunk
    pass to Spark, which still collects the failed ingest."""
    conn = store.create_dataset("gate")
    _orphan(conn)
    gate(conn)
    stats, jobs = _vacuum_jobs(conn)
    assert jobs > 0, "an ineligible store was vacuumed on the driver"
    assert stats["chunks_removed"] > 0
    assert _pointer(conn) == "chunks.g0"


@pytest.mark.parametrize("cap, tier", [(6, "spark"), (12, "driver")])
def test_index_cap_counts_every_version(store, spark, cap, tier):
    """``index_map_max_entries`` bounds the rows of every committed
    version's generations together, not each version's alone: two full
    versions of 6 index entries each take Spark under a cap of 6 and
    the driver under a cap of 12."""
    conn = store.create_dataset("sum")
    _commit(conn, [(_random_slab(FULL, 8), "full")])
    _orphan(conn)
    conn.index_map_max_entries = cap
    stats, jobs = _vacuum_jobs(conn)
    assert (jobs > 0) == (tier == "spark"), f"{jobs} jobs under cap {cap}"
    assert stats["chunks_removed"] > 0


@pytest.mark.slow
def test_spark_tier_live_set_is_the_resolved_union(store, spark):
    """On a 12-version delta chain, the union of each version's own
    resolved generations equals the union of the fully resolved
    indexes (ancestor bases included)."""
    conn = store.create_dataset("union")
    _chain(conn)

    def union(ancestors):
        df = None
        for v in conn.version_ids():
            h = conn.index_df(v, "v", ancestors=ancestors).select("chunk_hash")
            df = h if df is None else df.unionByName(h)
        return {r.chunk_hash for r in df.distinct().collect()}

    own = union(False)
    assert own == union(True)
    assert len(own) > len(conn._local_index_map(conn.last_version(), "v"))


def test_spark_tier_jobs_linear_in_versions(store, spark, tmp_path):
    """Through a ``file:`` root (Hadoop catalog, so vacuum takes the
    Spark tier) a clean vacuum's job count grows by the same step for
    every three delta-only versions added: the ref-hash union no longer
    re-resolves each version's ancestors.  The chain itself is written
    through the plain root, which commits with no Spark job."""
    local = store.create_dataset("chain")
    remote = Store(spark=spark, root=f"file://{tmp_path}").connect("chain")
    _commit(local, [(_random_slab(FULL, 0), "full")])
    jobs = []
    for i in range(1, 10):
        _commit(local, [(_random_slab(BOXES[i % len(BOXES)], 100 + i), "delta")])
        if i % 3 == 0:
            stats, n = _vacuum_jobs(remote)
            assert stats["chunks_removed"] == 0
            jobs.append(n)
    steps = [b - a for a, b in zip(jobs, jobs[1:])]
    assert steps[1] <= steps[0] + 1, f"vacuum jobs at 4/7/10 versions: {jobs}"
