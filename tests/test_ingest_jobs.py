"""Job budget and base carry of the aligned bulk ingest
(writer.ingest_aligned) on a local store.

Only the jobs that move chunk data remain: the dedup-winner broadcast,
the chunk append and the index write, plus the existing-hash broadcast
once a chunk table exists.  A batch that provably writes every grid
chunk (aligned, none outside the grid, one piece per grid chunk) never
builds the base index; any other full-mode batch carries the untouched
base entries.  A duplicate ckey is caught on the just-written
generation, which is deleted before anyone can read it.
"""

from __future__ import annotations

import numpy as np
import pytest

from mandoline_spark import reader, writer
from mandoline_spark.core import slab as sb
from mandoline_spark.core import slice as sl

SPEC = {
    "dimensions": {"x": 12, "y": 8},
    "chunk-dimensions": {"x": 4, "y": 4},
    "variables": {
        "v": {"type": "int", "shape": ["x", "y"], "fill-value": -7}
    },
}
FULL = sl.mk_slice((0, 0), (12, 8))
GRID = [(cx, cy) for cx in range(3) for cy in range(2)]  # 6 grid chunks


def _chunk(coord, seed: int) -> sb.Slab:
    rng = np.random.default_rng([seed, *coord])
    data = rng.integers(-1000, 1000, (4, 4)).astype(np.int32)
    s = sl.mk_slice(tuple(4 * c for c in coord), tuple(4 * c + 4 for c in coord))
    return sb.Slab(data, s)


def _paste(mirror: np.ndarray, slab: sb.Slab) -> None:
    mirror[tuple(slice(a, b) for a, b in zip(slab.slice.start, slab.slice.stop))] = slab.data


def _job_ids(spark) -> set:
    return set(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))


def _ingest(conn, token, slabs=(), extra_rows=()) -> int:
    """Spark jobs launched by one aligned ingest of ``slabs`` (plus raw
    piece ``extra_rows``)."""
    rows = writer.slabs_to_piece_rows(token, "v", list(slabs)) + list(extra_rows)
    pieces = conn.spark.createDataFrame(rows, schema=writer.piece_schema(2))
    ids0 = _job_ids(conn.spark)
    writer.ingest_aligned(conn, token, "v", pieces)
    return len(_job_ids(conn.spark) - ids0)


def _read(conn, vid) -> np.ndarray:
    return reader.get_slice(conn, reader.on_version(conn, vid), "v", FULL).data


@pytest.fixture()
def base_builds(monkeypatch):
    """Every call of the full-mode carry's base-index construction."""
    calls = []
    real = writer._base_index_df

    def spy(conn, token, var):
        calls.append(token["version-id"])
        return real(conn, token, var)

    monkeypatch.setattr(writer, "_base_index_df", spy)
    return calls


def _base_version(store):
    """A dataset whose first version holds every grid chunk (seed 1),
    with its mirror."""
    conn = store.create_dataset("ds")
    mirror = np.full((12, 8), -7, np.int32)
    tok = conn.add_version(SPEC)
    slabs = [_chunk(c, 1) for c in GRID]
    for s in slabs:
        _paste(mirror, s)
    jobs = _ingest(conn, tok, slabs)
    v1 = conn.finish_version(tok)
    return conn, v1, mirror, jobs


def test_first_full_ingest_launches_at_most_three_jobs(store):
    conn, v1, mirror, jobs = _base_version(store)
    assert jobs <= 3, f"first full ingest launched {jobs} Spark jobs"
    np.testing.assert_array_equal(_read(conn, v1), mirror)


def test_full_cover_reingest_skips_the_base(store, base_builds):
    conn, v1, mirror, _ = _base_version(store)
    base_builds.clear()
    tok = conn.add_version(SPEC)
    slabs = [_chunk(c, 2) for c in GRID]
    jobs = _ingest(conn, tok, slabs)
    v2 = conn.finish_version(tok)
    assert jobs <= 4, f"full-cover re-ingest launched {jobs} Spark jobs"
    assert base_builds == [], "a full-cover re-ingest built the base index"
    want = mirror.copy()
    for s in slabs:
        _paste(want, s)
    np.testing.assert_array_equal(_read(conn, v2), want)
    np.testing.assert_array_equal(_read(conn, v1), mirror)


def test_partial_reingest_carries_untouched_entries(store, base_builds):
    conn, v1, mirror, _ = _base_version(store)
    base_builds.clear()
    tok = conn.add_version(SPEC)
    slabs = [_chunk(c, 3) for c in GRID[::2]]
    _ingest(conn, tok, slabs)
    v2 = conn.finish_version(tok)
    assert base_builds == [tok["version-id"]]
    want = mirror.copy()
    for s in slabs:
        _paste(want, s)
    np.testing.assert_array_equal(_read(conn, v2), want)
    assert len(conn.index_map(v2, "v")) == len(GRID)


def test_grid_count_with_a_duplicate_never_commits(store):
    """One piece per grid chunk by COUNT, but one chunk twice and one
    missing: the carry-less generation is caught and deleted."""
    conn, v1, mirror, _ = _base_version(store)
    tok = conn.add_version(SPEC)
    slabs = [_chunk(c, 4) for c in GRID[:-1]] + [_chunk(GRID[0], 4)]
    assert len(slabs) == len(GRID)
    with pytest.raises(ValueError, match="same chunk"):
        _ingest(conn, tok, slabs)
    conn.invalidate_cache()
    assert conn.index_gens(tok["version-id"], "v") == []
    assert conn.last_version() == v1
    np.testing.assert_array_equal(_read(conn, v1), mirror)


def test_grid_count_with_an_outside_piece_carries(store, base_builds):
    """One piece per grid chunk by COUNT, but one of them lies outside
    the grid: the missing in-grid chunk is carried from the base."""
    conn, v1, mirror, _ = _base_version(store)
    base_builds.clear()
    tok = conn.add_version(SPEC)
    slabs = [_chunk(c, 5) for c in GRID[:-1]]
    out = np.full((4, 4), 9, np.int32)
    outside = (
        "3_0", 3, 0, 0, [12, 0], [16, 4],
        sb.to_bytes(sb.Slab(out, sl.mk_slice((12, 0), (16, 4)))),
    )
    _ingest(conn, tok, slabs, extra_rows=[outside])
    v2 = conn.finish_version(tok)
    assert base_builds == [tok["version-id"]]
    want = mirror.copy()
    for s in slabs:
        _paste(want, s)
    np.testing.assert_array_equal(_read(conn, v2), want)


def test_spark_duplicate_check_past_the_driver_cap(store):
    """Over the driver index cap the uniqueness check runs in Spark
    and still rejects a duplicate."""
    conn = store.create_dataset("ds")
    conn.index_map_max_entries = 0
    tok = conn.add_version(SPEC)
    one = _chunk((0, 0), 6)
    with pytest.raises(ValueError, match="same chunk"):
        _ingest(conn, tok, [one, one])
    conn.invalidate_cache()
    assert conn.index_gens(tok["version-id"], "v") == []
