"""Driver-side read tier on local stores: small-route reads (full scans
included) resolve the index and fetch the chunk blobs with pyarrow and
launch no Spark job, with the read cache on or off.  ``cache_reads``
only adds memoization, so a cache-off connection must see other
writers' commits and chunk-table growth on its very next read."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mandoline_spark import reader, writer
from mandoline_spark.core import slab as sb
from mandoline_spark.core import slice as sl
from mandoline_spark.store import Connection, _local_parquet_files

DDS = {
    "dimensions": {"x": 12, "y": 8},
    "chunk-dimensions": {"x": 4, "y": 4},
    "variables": {
        "v": {"type": "int", "shape": ["x", "y"], "fill-value": -7}
    },
}
FULL = sl.mk_slice((0, 0), (12, 8))


def _random_slab(s: sl.Slice, seed: int) -> sb.Slab:
    rng = np.random.default_rng(seed)
    data = rng.integers(-1000, 1000, sl.get_shape(s)).astype(np.int32)
    return sb.Slab(data, s)


def _job_ids(spark) -> set:
    return set(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))


def _scan(conn, vid, req=FULL):
    """(slab, Spark jobs launched) for one read of ``req`` at ``vid``."""
    token = reader.on_version(conn, vid)
    ids0 = _job_ids(conn.spark)
    got = reader.get_slice(conn, token, "v", req)
    return got, len(_job_ids(conn.spark) - ids0)


def _chunk_bytes(conn) -> int:
    files = _local_parquet_files(conn.chunks_path())
    return sum(os.path.getsize(f) for f in files)


def test_cache_off_full_scan_launches_no_jobs(store, spark):
    """A cache-off full-extent read is job-free on a local store, and
    its slab is byte-equal to the Spark fallback's — on a version whose
    last chunks were never written (fill) and on a version resolved
    through a delta overlay."""
    conn = store.create_dataset("scan")
    assert not conn.cache_reads
    t1 = conn.add_version(DDS)
    # chunk rows x=8..11 are never written: they read as fill
    part = sl.mk_slice((0, 0), (8, 8))
    writer.write_variable(conn, t1, "v", [_random_slab(part, 1)])
    v1 = conn.finish_version(t1)
    t2 = conn.add_version(DDS)
    top_left = sl.mk_slice((0, 0), (4, 4))
    writer.write_variable(
        conn, t2, "v", [_random_slab(top_left, 2)], index_mode="delta"
    )
    v2 = conn.finish_version(t2)
    assert conn.index_gen_is_delta(v2, "v", conn.index_gens(v2, "v")[-1])

    want1 = np.full((12, 8), -7, np.int32)
    want1[0:8, 0:8] = _random_slab(part, 1).data
    want2 = want1.copy()
    want2[0:4, 0:4] = _random_slab(top_left, 2).data
    for vid, want in ((v1, want1), (v2, want2)):
        local, jobs = _scan(conn, vid)
        assert jobs == 0, f"cache-off full scan launched {jobs} Spark jobs"
        np.testing.assert_array_equal(local.data, want)

        conn.blob_local_fetch_max_bytes = 0  # force the Spark path
        try:
            fallback, fb_jobs = _scan(conn, vid)
        finally:
            conn.blob_local_fetch_max_bytes = 256 << 20
        assert fb_jobs > 0, "byte cap 0 did not force the Spark fallback"
        assert local.slice == fallback.slice
        assert local.data.dtype == fallback.data.dtype
        assert local.data.tobytes() == fallback.data.tobytes()


def test_cache_off_reads_see_other_writers_and_table_growth(store, spark):
    """Nothing is memoized without the cache: a commit by a second
    connection is visible on the reader's very next read, and a chunk
    table that grows past the byte cap between two reads sends the
    second read to Spark instead of trusting the old size."""
    reader_conn = store.create_dataset("fresh")
    t = reader_conn.add_version(DDS)
    writer.write_variable(reader_conn, t, "v", [_random_slab(FULL, 3)])
    v1 = reader_conn.finish_version(t)
    got, jobs = _scan(reader_conn, v1)
    assert jobs == 0
    np.testing.assert_array_equal(got.data, _random_slab(FULL, 3).data)

    other = store.connect("fresh")
    t = other.add_version(DDS)
    box = sl.mk_slice((4, 4), (8, 8))
    writer.write_variable(other, t, "v", [_random_slab(box, 4)])
    v2 = other.finish_version(t)

    assert reader_conn.last_version() == v2
    want = _random_slab(FULL, 3).data.copy()
    want[4:8, 4:8] = _random_slab(box, 4).data
    got, jobs = _scan(reader_conn, v2)
    assert jobs == 0
    np.testing.assert_array_equal(got.data, want)

    # cap exactly at today's table size: still job-free
    reader_conn.blob_local_fetch_max_bytes = _chunk_bytes(reader_conn)
    got, jobs = _scan(reader_conn, v2)
    assert jobs == 0
    np.testing.assert_array_equal(got.data, want)

    # the other connection's commit grows the table past the cap
    t = other.add_version(DDS)
    box2 = sl.mk_slice((8, 0), (12, 4))
    writer.write_variable(other, t, "v", [_random_slab(box2, 5)])
    v3 = other.finish_version(t)
    assert _chunk_bytes(reader_conn) > reader_conn.blob_local_fetch_max_bytes
    want[8:12, 0:4] = _random_slab(box2, 5).data
    got, jobs = _scan(reader_conn, v3)
    assert jobs > 0, "over-cap table was read on the driver"
    np.testing.assert_array_equal(got.data, want)


@pytest.mark.parametrize("cache_reads", [False, True])
def test_blob_fetch_reads_blob_column_only_where_hashes_match(
    store, spark, monkeypatch, cache_reads
):
    """The driver blob fetch reads every file's ``hash`` column first
    and decompresses ``blob`` only from the row groups that hold a
    requested hash: a point read of a chunk written by one commit never
    opens the blob column of another commit's chunk file.  The cache-off
    fetch hands out Arrow buffers; the LRU stores ``bytes``."""
    conn = store.create_dataset("hashfirst")
    conn.cache_reads = cache_reads
    t = conn.add_version(DDS)
    first = sl.mk_slice((0, 0), (4, 4))
    writer.write_variable(conn, t, "v", [_random_slab(first, 6)])
    v1 = conn.finish_version(t)
    t = conn.add_version(DDS)
    second = sl.mk_slice((4, 4), (8, 8))
    writer.write_variable(conn, t, "v", [_random_slab(second, 7)])
    v2 = conn.finish_version(t)

    hash_of = conn.index_map(v2, "v", [(0, 2), (0, 1)])
    want = hash_of[(0, 0)]
    files = conn._local_chunk_files()
    holders = {
        f
        for f in files
        if want in pq.read_table(f, columns=["hash"]).column("hash").to_pylist()
    }
    # empty part files have no row group to read
    others = {f for f in files if pq.ParquetFile(f).metadata.num_rows} - holders
    assert holders and others, "expected the two commits in separate files"

    reads: list = []

    class Recording(pq.ParquetFile):
        def __init__(self, source, *a, **kw):
            super().__init__(source, *a, **kw)
            self._source = str(source)

        def read_row_group(self, i, columns=None, **kw):
            reads.append((self._source, tuple(columns or ())))
            return super().read_row_group(i, columns=columns, **kw)

    monkeypatch.setattr(pq, "ParquetFile", Recording)

    # the other commit's file first, so it is opened before the holder
    got = Connection._local_blobs(
        sorted(others) + sorted(holders), [want], copy=not cache_reads
    )
    assert set(got) == {want}
    assert {f for f, cols in reads if "hash" in cols} >= others
    blob_files = {f for f, cols in reads if "blob" in cols}
    assert blob_files and blob_files <= holders, reads

    # the same through a point read on the connection
    reads.clear()
    conn.invalidate_cache()
    point, jobs = _scan(conn, v2, sl.mk_slice((1, 1), (3, 3)))
    assert jobs == 0
    np.testing.assert_array_equal(
        point.data, _random_slab(first, 6).data[1:3, 1:3]
    )
    blob_files = {f for f, cols in reads if "blob" in cols}
    assert blob_files and blob_files <= holders, reads

    value = conn.blobs_for([want], conn._local_chunk_files())[want]
    assert isinstance(value, bytes if cache_reads else pa.Buffer)
    if cache_reads:
        assert isinstance(conn._blob_lru[want], bytes)


def test_cache_off_read_asks_the_chunk_gate_once(store, spark, monkeypatch):
    """An uncached small read lists the chunk tree once: the files the
    chunk half of the gate returns before the index map serve the blob
    fetch too, instead of a second listing and stat of every file.  The
    read stays job-free and byte-equal to the Spark fallback's."""
    dds = {
        "dimensions": {"x": 16, "y": 16},
        "chunk-dimensions": {"x": 4, "y": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x", "y"], "fill-value": 0}
        },
    }
    full = sl.mk_slice((0, 0), (16, 16))
    conn = store.create_dataset("gateonce")
    assert not conn.cache_reads
    t = conn.add_version(dds)
    writer.write_variable(conn, t, "v", [_random_slab(full, 8)])
    v = conn.finish_version(t)
    req = sl.mk_slice((5, 9), (7, 11))

    calls: list = []
    gate = Connection.driver_tier

    def counting(self, gens=(), chunks=True, capped=True):
        calls.append(chunks)
        return gate(self, gens, chunks, capped)

    monkeypatch.setattr(Connection, "driver_tier", counting)
    got, jobs = _scan(conn, v, req)
    assert jobs == 0
    assert calls.count(True) == 1, calls
    assert calls.count(False) == 1, calls  # the index half

    monkeypatch.setattr(conn, "blob_local_fetch_max_bytes", 0)
    fallback, fb_jobs = _scan(conn, v, req)
    assert fb_jobs > 0
    assert got.data.tobytes() == fallback.data.tobytes()
    assert got.data.tobytes() == _random_slab(full, 8).data[5:7, 9:11].tobytes()
