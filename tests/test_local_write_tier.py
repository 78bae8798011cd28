"""Driver write tier on local stores: ``write_variable`` of driver-resident
slabs merges, deduplicates and appends with numpy + pyarrow and launches
no Spark job when the index and the chunk table fit the driver caps.
Its stores must be indistinguishable from the Spark tier's — same
reads, same resolved indexes, same chunk hashes — and readable through
Spark, mixed with Spark-written files."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from mandoline_spark import reader, writer
from mandoline_spark.core import slab as sb
from mandoline_spark.core import slice as sl
from mandoline_spark.store import _local_parquet_files

DDS = {
    "dimensions": {"x": 12, "y": 8},
    "chunk-dimensions": {"x": 4, "y": 4},
    "variables": {
        "v": {"type": "int", "shape": ["x", "y"], "fill-value": -7},
        "s": {"type": "double", "shape": [], "fill-value": 0.5},
    },
}
FULL = sl.mk_slice((0, 0), (12, 8))
SCALAR = sl.mk_slice((), ())


def _random_slab(s: sl.Slice, seed: int) -> sb.Slab:
    rng = np.random.default_rng(seed)
    data = rng.integers(-1000, 1000, sl.get_shape(s)).astype(np.int32)
    return sb.Slab(data, s)


def _scalar(value: float) -> sb.Slab:
    return sb.Slab(np.array(value, np.float64), SCALAR)


def _job_ids(spark) -> set:
    return set(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))


def _jobs_of(spark, fn, *args, **kw) -> int:
    """Spark jobs launched by one call."""
    ids0 = _job_ids(spark)
    fn(*args, **kw)
    return len(_job_ids(spark) - ids0)


def _spark_write(conn, token, var, slabs):
    """Commit ``slabs`` through the Spark tier's executor entry."""
    rows = writer.slabs_to_piece_rows(token, var, slabs)
    ndim = len(rows[0]) - 5
    writer.write_pieces(
        conn, token, var,
        conn.spark.createDataFrame(rows, writer.piece_schema(ndim)),
    )


def _read(conn, vid, var="v", req=FULL, spark_path=False):
    cap = conn.blob_local_fetch_max_bytes
    if spark_path:
        conn.blob_local_fetch_max_bytes = 0
    try:
        return reader.get_slice(conn, reader.on_version(conn, vid), var, req)
    finally:
        conn.blob_local_fetch_max_bytes = cap


def _stored_hashes(conn) -> list:
    return sorted(
        h
        for f in _local_parquet_files(conn.chunks_path())
        for h in pq.read_table(f, columns=["hash"]).column("hash").to_pylist()
    )


@pytest.mark.parametrize("cache_reads", [False, True])
def test_driver_commits_launch_no_jobs(store, spark, cache_reads):
    """A full commit with no base and an unaligned delta commit of
    driver slabs on a local store launch zero Spark jobs, with the read
    cache on or off, and read back as written.  A full commit onto a
    base takes the Spark tier, whose anti-join carries the untouched
    entries."""
    conn = store.create_dataset("nojobs")
    conn.cache_reads = cache_reads
    t = conn.add_version(DDS)
    jobs = _jobs_of(spark, writer.write_variable, conn, t, "v", [_random_slab(FULL, 1)])
    assert jobs == 0, f"full commit launched {jobs} Spark jobs"
    v1 = conn.finish_version(t)
    want = _random_slab(FULL, 1).data.copy()

    t = conn.add_version(DDS)
    box = sl.mk_slice((1, 2), (7, 5))  # crosses four chunks, none whole
    jobs = _jobs_of(
        spark, writer.write_variable, conn, t, "v", [_random_slab(box, 2)],
        index_mode="delta",
    )
    assert jobs == 0, f"delta commit launched {jobs} Spark jobs"
    assert _jobs_of(spark, conn.finish_version, t) == 0
    v2 = conn.last_version()
    assert conn.index_gen_is_delta(v2, "v", 0)
    want[1:7, 2:5] = _random_slab(box, 2).data

    t = conn.add_version(DDS)
    box2 = sl.mk_slice((5, 0), (12, 3))
    jobs = _jobs_of(spark, writer.write_variable, conn, t, "v", [_random_slab(box2, 3)])
    assert jobs > 0, "a full commit onto a base ran on the driver"
    v3 = conn.finish_version(t)
    assert not conn.index_gen_is_delta(v3, "v", 0)
    want3 = want.copy()
    want3[5:12, 0:3] = _random_slab(box2, 3).data

    for vid, expect in ((v1, _random_slab(FULL, 1).data), (v2, want), (v3, want3)):
        np.testing.assert_array_equal(_read(conn, vid).data, expect)


def test_driver_tier_matches_spark_tier(store, spark):
    """The same commit sequence — unaligned overlapping delta slabs, a
    0-d variable's full first commit and delta rewrites, an aligned full
    rewrite (Spark tier on both), two writes into one version — on a
    store that takes the driver tier and on a twin forced onto the
    Spark tier (``blob_local_fetch_max_bytes=0``) yields byte-equal
    full-extent reads, equal resolved index maps and equal chunk-table
    hash sets."""
    twins = {}
    for name, cap in (("driver", 256 << 20), ("spark", 0)):
        conn = store.create_dataset(name)
        t = conn.add_version(DDS)
        # the base goes through Spark in both: an empty chunk table is
        # always within the driver byte cap
        _spark_write(conn, t, "v", [_random_slab(sl.mk_slice((0, 0), (8, 8)), 10)])
        versions = [conn.finish_version(t)]
        conn.blob_local_fetch_max_bytes = cap
        jobs = 0

        def commit(writes):
            nonlocal jobs
            t = conn.add_version(DDS)
            for var, slabs, index_mode in writes:
                n = _jobs_of(
                    spark, writer.write_variable, conn, t, var, slabs,
                    index_mode=index_mode,
                )
                # a full commit onto a base takes Spark on both twins
                if not (index_mode == "full" and var == "v"):
                    jobs += n
            versions.append(conn.finish_version(t))

        commit(
            [("v", [_random_slab(sl.mk_slice((1, 1), (6, 7)), 11),
                    _random_slab(sl.mk_slice((3, 0), (10, 5)), 12)], "delta"),
             ("s", [_scalar(2.5)], "full")],
        )
        commit(
            [("v", [_random_slab(sl.mk_slice((4, 4), (12, 8)), 13)], "full"),
             ("s", [_scalar(-1.0), _scalar(3.25)], "delta")],
        )
        commit(
            [("v", [_random_slab(sl.mk_slice((0, 0), (12, 2)), 14)], "delta"),
             ("v", [_random_slab(sl.mk_slice((2, 1), (5, 6)), 15)], "delta")],
        )
        if cap:
            assert jobs == 0, f"driver-tier commits launched {jobs} jobs"
        else:
            assert jobs > 0, "byte cap 0 did not force the Spark tier"
        conn.blob_local_fetch_max_bytes = 256 << 20
        twins[name] = (
            [
                (
                    _read(conn, v).data.tobytes(),
                    _read(conn, v, "s", SCALAR).data.tobytes(),
                    conn._local_index_map(v, "v"),
                    conn._local_index_map(v, "s"),
                )
                for v in versions
            ],
            set(_stored_hashes(conn)),
        )
    drv, spk = twins["driver"], twins["spark"]
    for i, (a, b) in enumerate(zip(drv[0], spk[0])):
        assert a[0] == b[0], f"version {i}: reads of v differ"
        assert a[1] == b[1], f"version {i}: reads of s differ"
        assert a[2] == b[2], f"version {i}: resolved index of v differs"
        assert a[3] == b[3], f"version {i}: resolved index of s differs"
    assert drv[1] == spk[1]


def test_index_cap_sends_reads_and_delta_commits_to_spark(store, spark):
    """The index half of the driver-tier gate: with
    ``index_map_max_entries`` below the store's index rows, an uncached
    ``get_slice`` and a delta ``write_variable`` each launch Spark jobs
    and give byte-equal reads to a twin on the driver tier."""
    twins = {}
    for name, cap in (("driver", 2_000_000), ("spark", 1)):
        conn = store.create_dataset(name)
        t = conn.add_version(DDS)
        writer.write_variable(conn, t, "v", [_random_slab(FULL, 20)])
        v1 = conn.finish_version(t)
        conn.index_map_max_entries = cap  # v1's index holds 6 rows
        read_jobs = _jobs_of(spark, _read, conn, v1)
        t = conn.add_version(DDS)
        box = sl.mk_slice((1, 2), (7, 5))  # crosses four chunks, none whole
        write_jobs = _jobs_of(
            spark, writer.write_variable, conn, t, "v", [_random_slab(box, 21)],
            index_mode="delta",
        )
        v2 = conn.finish_version(t)
        if name == "spark":
            assert read_jobs > 0 and write_jobs > 0, (read_jobs, write_jobs)
        else:
            assert read_jobs == 0 and write_jobs == 0, (read_jobs, write_jobs)
        twins[name] = [_read(conn, v).data.tobytes() for v in (v1, v2)]
    assert twins["driver"] == twins["spark"]


def test_rewrite_of_stored_content_appends_no_blob(store, spark):
    """Content addressing on the driver tier: chunks of equal content
    within one write are stored once, and rewriting content the table
    already holds appends no blob row (and no chunk file)."""
    conn = store.create_dataset("dedup")
    t = conn.add_version(DDS)
    # six whole chunks, all the same content
    writer.write_variable(conn, t, "v", [sb.empty("int", sl.mk_slice((0, 0), (12, 8)), 3)])
    conn.finish_version(t)
    assert len(_stored_hashes(conn)) == 1
    t = conn.add_version(DDS)
    writer.write_variable(conn, t, "v", [_random_slab(sl.mk_slice((0, 0), (4, 4)), 20)])
    conn.finish_version(t)
    before = _stored_hashes(conn)
    files = _local_parquet_files(conn.chunks_path())
    assert len(before) == 2

    t = conn.add_version(DDS)
    writer.write_variable(
        conn, t, "v",
        [_random_slab(sl.mk_slice((0, 0), (4, 4)), 20),
         sb.empty("int", sl.mk_slice((8, 4), (12, 8)), 3)],
        index_mode="delta",
    )
    v = conn.finish_version(t)
    assert _stored_hashes(conn) == before
    assert _local_parquet_files(conn.chunks_path()) == files
    want = np.full((12, 8), 3, np.int32)
    want[0:4, 0:4] = _random_slab(sl.mk_slice((0, 0), (4, 4)), 20).data
    np.testing.assert_array_equal(_read(conn, v).data, want)


def test_point_read_decompresses_one_row_group(store, spark, monkeypatch):
    """A driver commit's chunk file is split into row groups of about
    ``CHUNK_ROW_GROUP_BYTES`` of blobs, so a cold point read after a
    multi-row-group commit reads ``blob`` from one row group only
    (shrunk here to one blob per row group)."""
    monkeypatch.setattr(writer, "CHUNK_ROW_GROUP_BYTES", 1)
    conn = store.create_dataset("rowgroups")
    t = conn.add_version(DDS)
    assert _jobs_of(spark, writer.write_variable, conn, t, "v", [_random_slab(FULL, 60)]) == 0
    v = conn.finish_version(t)
    (f,) = _local_parquet_files(conn.chunks_path())
    assert pq.ParquetFile(f).num_row_groups == 6

    reads: list = []

    class Recording(pq.ParquetFile):
        def read_row_group(self, i, columns=None, **kw):
            reads.append((i, tuple(columns or ())))
            return super().read_row_group(i, columns=columns, **kw)

    monkeypatch.setattr(pq, "ParquetFile", Recording)
    conn.invalidate_cache()
    got = _read(conn, v, req=sl.mk_slice((1, 1), (3, 3)))
    np.testing.assert_array_equal(got.data, _random_slab(FULL, 60).data[1:3, 1:3])
    assert len([i for i, cols in reads if "blob" in cols]) == 1, reads
    assert {i for i, cols in reads if "hash" in cols} == set(range(6))


def test_spark_reads_mixed_chunk_tree_and_delta_chain(store, spark):
    """Spark reads a store whose chunk table mixes Spark- and
    pyarrow-written files and whose index mixes both writers'
    generations, with a multi-delta chain in one version (the ``g=N``
    stack read through ``basePath``): every version's forced-Spark read
    equals the numpy mirror and the job-free read."""
    conn = store.create_dataset("mixed")
    t = conn.add_version(DDS)
    _spark_write(conn, t, "v", [_random_slab(FULL, 30)])
    mirror = _random_slab(FULL, 30).data.copy()
    versions = {conn.finish_version(t): mirror.copy()}

    t = conn.add_version(DDS)
    for seed, box in enumerate(
        [((0, 0), (3, 3)), ((2, 2), (9, 6)), ((8, 5), (12, 8))], start=31
    ):
        s = sl.mk_slice(*box)
        writer.write_variable(conn, t, "v", [_random_slab(s, seed)], index_mode="delta")
        mirror[box[0][0]:box[1][0], box[0][1]:box[1][1]] = _random_slab(s, seed).data
    vid = t["version-id"]
    assert conn.index_gens(vid, "v") == [0, 1, 2]
    versions[conn.finish_version(t)] = mirror.copy()

    t = conn.add_version(DDS)
    s = sl.mk_slice((4, 1), (11, 7))
    writer.write_variable(conn, t, "v", [_random_slab(s, 40)])
    mirror[4:11, 1:7] = _random_slab(s, 40).data
    versions[conn.finish_version(t)] = mirror.copy()

    names = [os.path.basename(f) for f in _local_parquet_files(conn.chunks_path())]
    assert "part-0.parquet" in names and any(n != "part-0.parquet" for n in names)
    for v, want in versions.items():
        np.testing.assert_array_equal(_read(conn, v, spark_path=True).data, want)
        np.testing.assert_array_equal(_read(conn, v).data, want)
        rows = conn.resolve_index_df(v, "v").select("c0", "c1", "chunk_hash").collect()
        assert {(r.c0, r.c1): r.chunk_hash for r in rows} == conn._local_index_map(v, "v")
    cells = reader.cells_df(conn, reader.on_version(conn, max(versions)), "v").collect()
    assert len(cells) == mirror.size
    assert all(r.value == mirror[r.dim0, r.dim1] for r in cells)


def _commit_past_snapshot(conn, monkeypatch):
    """Writer A's delta commit into a version where writer B's delta
    lands between A's base snapshot and A's claim: A claims past its
    snapshot.  Returns (token, A's slab, B's slab)."""
    token = conn.add_version(DDS)
    writer.write_variable(conn, token, "v", [sb.empty("int", FULL, 1)])
    a = _random_slab(sl.mk_slice((1, 1), (3, 6)), 50)
    b = _random_slab(sl.mk_slice((2, 3), (7, 7)), 51)
    orig_claim = writer.claim_index_gen

    def interpose(conn_, vid, var):
        monkeypatch.setattr(writer, "claim_index_gen", orig_claim)
        writer.write_variable(conn, token, "v", [b], index_mode="delta")
        return orig_claim(conn_, vid, var)

    monkeypatch.setattr(writer, "claim_index_gen", interpose)
    writer.write_variable(conn, token, "v", [a], index_mode="delta")
    return token, a, b


def test_commit_past_snapshot_records_masks(store, spark, monkeypatch):
    """A driver-tier delta commit that claims past its generation
    snapshot records each row's written boxes (``wb``) — a concurrent
    writer's cells in the same chunks are not in its blobs — and
    ``finish_version`` reconciles the masked layers cell-correct."""
    conn = store.create_dataset("masked")
    token, a, b = _commit_past_snapshot(conn, monkeypatch)
    vid = token["version-id"]
    assert conn.index_gens(vid, "v") == [0, 1, 2]
    assert not writer._gen_masked(conn, vid, "v", 1)
    assert writer._gen_masked(conn, vid, "v", 2)
    tbl = pq.read_table(conn.index_path(vid, "v", 2)).to_pylist()
    wb = {(r["c0"], r["c1"]): r["wb"] for r in tbl}
    # A's piece extents, per chunk: [start..., stop...]
    assert wb == {(0, 0): [1, 1, 3, 4], (0, 1): [1, 4, 3, 6]}

    v = conn.finish_version(token)
    assert not any(writer._gen_masked(conn, vid, "v", g) for g in conn.index_gens(vid, "v"))
    want = np.ones((12, 8), np.int32)
    want[2:7, 3:7] = b.data
    want[1:3, 1:6] = a.data
    np.testing.assert_array_equal(_read(conn, v).data, want)


def test_masked_base_takes_the_spark_tier(store, spark, monkeypatch):
    """A write onto a base with unreconciled masked generations stays
    on the Spark tier, whose merge folds the layer stack."""
    conn = store.create_dataset("maskedbase")
    token, a, b = _commit_past_snapshot(conn, monkeypatch)
    vid = token["version-id"]
    assert writer._gen_masked(conn, vid, "v", 2)
    c = _random_slab(sl.mk_slice((0, 5), (2, 8)), 52)
    jobs = _jobs_of(
        spark, writer.write_variable, conn, token, "v", [c], index_mode="delta"
    )
    assert jobs > 0, "a masked base was merged on the driver"
    v = conn.finish_version(token)
    want = np.ones((12, 8), np.int32)
    want[2:7, 3:7] = b.data
    want[1:3, 1:6] = a.data
    want[0:2, 5:8] = c.data
    np.testing.assert_array_equal(_read(conn, v).data, want)


def test_chunk_dedup_winner_is_retry_safe(store, spark, monkeypatch):
    """The Spark tier's chunk append elects one row per content hash by
    a key derived from the chunk coordinate — never by an
    evaluation-order id, which a recomputed input could assign
    differently on the two sides of the winner join — and stores each
    hash exactly once."""
    appended = []
    orig = writer.chunk_table_writer

    def record(df):
        appended.append(df)
        return orig(df)

    monkeypatch.setattr(writer, "chunk_table_writer", record)
    conn = store.create_dataset("retry")
    t = conn.add_version(DDS)
    # six chunks share one content, two more share another
    slabs = [
        sb.empty("int", sl.mk_slice((0, 0), (12, 8)), 4),
        sb.empty("int", sl.mk_slice((0, 0), (8, 4)), 9),
    ]
    _spark_write(conn, t, "v", slabs)
    v = conn.finish_version(t)
    assert len(appended) == 1
    plan = appended[0]._jdf.queryExecution().toString()
    assert "MonotonicallyIncreasingID" not in plan
    assert "monotonically_increasing_id" not in plan.lower()
    hashes = _stored_hashes(conn)
    assert len(hashes) == len(set(hashes)) == 2
    want = np.full((12, 8), 4, np.int32)
    want[0:8, 0:4] = 9
    np.testing.assert_array_equal(_read(conn, v).data, want)
