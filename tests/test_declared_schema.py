"""Spark reads of the engine's own tables declare their schema
(``CHUNK_SCHEMA``, ``_index_gen_schema``), so building a table frame
launches no footer-inference job, and what reads back through the
Spark tier is unchanged: generations written before the ``wb`` mask
column read it as null, a ``g=N`` delta stack resolves in numeric
generation order, and chunk files from both write tiers mix."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from mandoline_spark import reader, writer
from mandoline_spark.core import slab as sb
from mandoline_spark.core import slice as sl
from mandoline_spark.store import _local_parquet_files

SPEC = {
    "dimensions": {"x": 12, "y": 8},
    "chunk-dimensions": {"x": 4, "y": 4},
    "variables": {
        "v": {"type": "int", "shape": ["x", "y"], "fill-value": -7}
    },
}
FULL = sl.mk_slice((0, 0), (12, 8))
CORNER = sl.mk_slice((0, 0), (4, 4))


def _slab(s: sl.Slice, seed: int) -> sb.Slab:
    rng = np.random.default_rng(seed)
    return sb.Slab(rng.integers(-1000, 1000, sl.get_shape(s)).astype(np.int32), s)


def _paste(mirror: np.ndarray, slab: sb.Slab) -> None:
    mirror[tuple(slice(a, b) for a, b in zip(slab.slice.start, slab.slice.stop))] = slab.data


def _job_ids(spark) -> set:
    return set(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))


def _spark_read(conn, vid, req=FULL) -> np.ndarray:
    """A read through the Spark tier: the driver blob fetch is capped
    to nothing, so index resolution and blob join run in Spark."""
    cap = conn.blob_local_fetch_max_bytes
    conn.blob_local_fetch_max_bytes = 0
    try:
        ids0 = _job_ids(conn.spark)
        got = reader.get_slice(conn, reader.on_version(conn, vid), "v", req).data
        assert _job_ids(conn.spark) - ids0, "the read did not take the Spark tier"
        return got
    finally:
        conn.blob_local_fetch_max_bytes = cap


def _aligned_v1(conn):
    """Version 1 over the whole grid through the Spark tier's aligned
    ingest (bloom-filtered chunk files), with its mirror."""
    tok = conn.add_version(SPEC)
    whole = _slab(FULL, 1)
    rows = writer.slabs_to_piece_rows(
        tok, "v", [sb.subset(whole, s) for s in _chunk_slices()]
    )
    writer.ingest_aligned(
        conn, tok, "v", conn.spark.createDataFrame(rows, schema=writer.piece_schema(2))
    )
    return conn.finish_version(tok), whole.data.copy()


def _chunk_slices():
    return [
        sl.mk_slice((4 * cx, 4 * cy), (4 * cx + 4, 4 * cy + 4))
        for cx in range(3)
        for cy in range(2)
    ]


def _strip_wb(gen_dir: str) -> None:
    """Rewrite a generation's parquet without the ``wb`` column: the
    shape of an index generation written before masks existed."""
    for fp in _local_parquet_files(gen_dir):
        tbl = pq.read_table(fp)
        assert "wb" in tbl.column_names
        pq.write_table(tbl.drop(["wb"]), fp)
        # Hadoop's local checksum file no longer matches the rewrite
        crc = os.path.join(os.path.dirname(fp), f".{os.path.basename(fp)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def test_pre_mask_generation_reads_the_same(store):
    conn = store.create_dataset("ds")
    v1, want1 = _aligned_v1(conn)
    before = _spark_read(conn, v1)
    _strip_wb(conn.index_path(v1, "v", 0))
    conn.invalidate_cache()
    np.testing.assert_array_equal(before, want1)
    np.testing.assert_array_equal(_spark_read(conn, v1), want1)
    idx = conn.index_df(v1, "v")
    assert idx.filter("wb is not null").count() == 0
    # a masked-era delta overlays the pre-mask full generation
    tok = conn.add_version(SPEC)
    corner = _slab(CORNER, 2)
    writer.write_variable(conn, tok, "v", [corner], index_mode="delta")
    v2 = conn.finish_version(tok)
    want2 = want1.copy()
    _paste(want2, corner)
    np.testing.assert_array_equal(_spark_read(conn, v2), want2)


def test_delta_stack_orders_generations_numerically(store, spark):
    """Eleven deltas over one chunk: the g=N partition column must stay
    an int (g=10 beats g=9) with partition type inference on or off."""
    conn = store.create_dataset("ds")
    v1, want = _aligned_v1(conn)
    tok = conn.add_version(SPEC)
    for seed in range(11):
        last = _slab(CORNER, 100 + seed)
        writer.write_variable(
            conn, tok, "v", [last], index_mode="delta", compact_every=0
        )
    v2 = conn.finish_version(tok)
    assert len(conn.index_gens(v2, "v")) == 11
    _paste(want, last)
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(key)
    try:
        for infer in ("true", "false"):
            spark.conf.set(key, infer)
            conn.invalidate_cache()
            np.testing.assert_array_equal(_spark_read(conn, v2), want)
            conn.cache_reads = True
            try:
                conn.index_df(v2, "v")
                (stack,) = [
                    df for k, df in conn._df_cache.items() if k[0] == "index-stack"
                ]
                assert stack.schema["g"].dataType == T.IntegerType()
            finally:
                conn.cache_reads = False
                conn.invalidate_cache()
    finally:
        spark.conf.set(key, old)


def test_chunk_files_of_both_tiers_read_through_spark(store):
    conn = store.create_dataset("ds")
    v1, want1 = _aligned_v1(conn)
    tok = conn.add_version(SPEC)
    corner = _slab(CORNER, 3)
    writer.write_variable(conn, tok, "v", [corner], index_mode="delta")
    v2 = conn.finish_version(tok)
    jobs = [d for d in os.listdir(conn.chunks_path()) if d.startswith("job-")]
    assert len(jobs) == 2  # one append per tier
    want2 = want1.copy()
    _paste(want2, corner)
    np.testing.assert_array_equal(_spark_read(conn, v1), want1)
    np.testing.assert_array_equal(_spark_read(conn, v2), want2)
    hashes = [r.hash for r in conn.chunks_df().select("hash").collect()]
    assert len(hashes) == len(set(hashes)) == 7


@pytest.mark.parametrize("cache_reads", [False, True])
def test_table_frames_launch_no_jobs(store, cache_reads):
    """chunks_df() and index_df() over a full generation, a g=N delta
    stack and an ancestor fallback build without a Spark job."""
    conn = store.create_dataset("ds")
    v1, _ = _aligned_v1(conn)
    tok = conn.add_version(SPEC)
    for seed in range(3):
        writer.write_variable(
            conn, tok, "v", [_slab(CORNER, 10 + seed)], index_mode="delta"
        )
    v2 = conn.finish_version(tok)
    conn.cache_reads = cache_reads
    conn.invalidate_cache()
    ids0 = _job_ids(conn.spark)
    frames = [
        conn.chunks_df(),
        conn.index_df(v1, "v"),
        conn.index_df(v2, "v"),
        conn.index_df(v2, "v", ancestors=False),
        conn.resolve_index_df(v2, "v"),
    ]
    assert all(f is not None for f in frames)
    assert len(_job_ids(conn.spark) - ids0) == 0


@pytest.mark.parametrize("cache_reads", [False, True])
def test_first_version_index_frames_launch_no_jobs(store, cache_reads):
    """A dataset's first version has no committed token to take the
    index schema from: the writer passes its own token's dimension
    count, so the in-flight version's index frames (``index_df`` with
    ``ndim``, and the base a second write of the same version reads)
    build without a schema-inference job."""
    conn = store.create_dataset("ds")
    conn.cache_reads = cache_reads
    tok = conn.add_version(SPEC)
    writer.write_variable(conn, tok, "v", [_slab(CORNER, 3)])
    writer.write_variable(
        conn, tok, "v", [_slab(CORNER, 4)], index_mode="delta"
    )
    vid = tok["version-id"]
    conn.invalidate_cache()
    ids0 = _job_ids(conn.spark)
    assert writer._base_index_df(conn, tok, "v") is not None
    assert len(_job_ids(conn.spark) - ids0) == 0
    own = conn.index_df(vid, "v", ndim=2)
    assert len(_job_ids(conn.spark) - ids0) == 0
    assert own.columns == writer._index_gen_schema(2).fieldNames()
