"""Structured Streaming behavior: watermark/late-data, session windows,
and the custom stateful sessionizer (SURVEY §2B Q25-Q27 streaming forms).
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from mandoline_spark.streaming import (
    read_events_stream,
    run_available_now,
    session_counts,
    sessionize_stateful,
    tumbling_counts,
)


def _write_events_file(path: str, rows: list[tuple], mtime: float) -> None:
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    # UTC micros, Spark's native precision (the fixtures store
    # TIMESTAMP(MICROS) as well)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC").astype(
        "datetime64[us, UTC]"
    )
    pdf.to_parquet(path, index=False)
    os.utime(path, (mtime, mtime))


def _ev(i, ts, user=1, typ="click", value=1.0):
    return (i, ts, user, typ, value, "{}")


def test_streaming_tumbling_matches_batch(spark, tmp_path):
    """Complete-mode streaming aggregation over the fixture equals the
    batch groupBy of the same file."""
    src = tmp_path / "src"
    # copy the fixture (TIMESTAMP(MICROS)) into Spark-written part files
    # for the stream source to replay
    from mandoline_spark.queries import load_events

    load_events(spark, "/root/testdata/sf0.001").write.parquet(str(src))

    stream = read_events_stream(spark, str(src), max_files_per_trigger=10)
    agg = tumbling_counts(stream, watermark="10 seconds")
    run_available_now(agg, "tumb", "complete", str(tmp_path / "ck1"))
    got = (
        spark.table("tumb")
        .select("ws", "event_type", "c", "s")
        .orderBy("ws", "event_type")
        .toPandas()
    )

    from pyspark.sql import functions as F

    batch = (
        spark.read.parquet(str(src))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("c"), F.round(F.sum("value"), 3).alias("s"))
        .select(F.col("w.start").alias("ws"), "event_type", "c", "s")
        .orderBy("ws", "event_type")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, batch)


def test_watermark_drops_late_rows(spark, tmp_path):
    """An event arriving after the watermark passed its window is
    dropped: the finalized window's count excludes it."""
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    # batch 0: three events in hour 10, plus 12:00 to push the
    # watermark (15 min delay) to 11:45 — past the 10:00-11:00 window
    _write_events_file(
        str(src / "a.parquet"),
        [
            _ev(0, "2024-01-01 10:00:00"),
            _ev(1, "2024-01-01 10:20:00"),
            _ev(2, "2024-01-01 10:40:00"),
            _ev(3, "2024-01-01 12:00:00"),
        ],
        now - 30,
    )
    # batch 1: keeps the stream moving; Spark applies the late-record
    # filter with the watermark as of the PREVIOUS batch boundary (the
    # plan's lateEvents threshold trails the eviction threshold by one
    # batch), so the drop is observable from the batch after this one
    _write_events_file(
        str(src / "b.parquet"),
        [_ev(4, "2024-01-01 12:30:00")],
        now - 20,
    )
    # batch 2: a LATE event for hour 10 (late-filter watermark now
    # 11:45) and a fresh event
    _write_events_file(
        str(src / "c.parquet"),
        [
            _ev(5, "2024-01-01 10:30:00"),
            _ev(6, "2024-01-01 13:00:00"),
        ],
        now - 10,
    )

    stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
    agg = tumbling_counts(stream, window="1 hour", watermark="15 minutes")
    run_available_now(agg, "late", "append", str(tmp_path / "ck2"))
    rows = {
        str(r["ws"]): r["c"] for r in spark.table("late").collect()
    }
    # the 10:00 window was finalized with the 3 on-time events only
    assert rows["2024-01-01 10:00:00"] == 3


def test_streaming_session_window(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    # user 1: two sessions separated by > 10 min; user 2: one session
    _write_events_file(
        str(src / "a.parquet"),
        [
            _ev(0, "2024-01-01 10:00:00", user=1),
            _ev(1, "2024-01-01 10:05:00", user=1),
            _ev(2, "2024-01-01 10:30:00", user=1),
            _ev(3, "2024-01-01 10:00:00", user=2),
        ],
        now - 20,
    )
    # advance the watermark far enough to close every session
    _write_events_file(
        str(src / "b.parquet"),
        [_ev(4, "2024-01-01 23:00:00", user=99)],
        now - 10,
    )
    stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
    agg = session_counts(stream, gap="10 minutes", watermark="5 minutes")
    run_available_now(agg, "sess", "append", str(tmp_path / "ck3"))
    got = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in spark.table("sess").collect()
    }
    assert got[(1, "2024-01-01 10:00:00")] == 2  # 10:00 + 10:05
    assert got[(1, "2024-01-01 10:30:00")] == 1
    assert got[(2, "2024-01-01 10:00:00")] == 1


def test_stateful_sessionizer_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-user state across micro-batches:
    a session opened in batch 1 is closed by a post-gap event in
    batch 2 (gap close) and the final open session is closed by the
    event-time timeout once the watermark passes last_event + gap."""
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    _write_events_file(
        str(src / "a.parquet"),
        [
            _ev(0, "2024-01-01 10:00:00", user=1),
            _ev(1, "2024-01-01 10:04:00", user=1),
        ],
        now - 30,
    )
    _write_events_file(
        str(src / "b.parquet"),
        [
            # 26 min after the last event → closes the first session
            _ev(2, "2024-01-01 10:30:00", user=1),
            # same batch, in-gap follow-up extends the new session
            _ev(3, "2024-01-01 10:35:00", user=1),
        ],
        now - 20,
    )
    # push the watermark far past 10:45 so the open session times out
    _write_events_file(
        str(src / "c.parquet"),
        [_ev(4, "2024-01-01 23:00:00", user=99)],
        now - 10,
    )
    stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
    out = sessionize_stateful(stream, gap_minutes=10, watermark="5 minutes")
    run_available_now(out, "statesess", "append", str(tmp_path / "ck4"))
    rows = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]),
         r["n_events"])
        for r in spark.table("statesess").collect()
    )
    assert rows == [
        # closed by the 10:30 arrival (gap exceeded)
        (1, "2024-01-01 10:00:00", "2024-01-01 10:04:00", 2),
        # closed by event-time timeout when the watermark hit 22:55
        (1, "2024-01-01 10:30:00", "2024-01-01 10:35:00", 2),
        # user 99's session stays open (watermark never passed 23:10)
    ]


def test_stream_ingest_versions_per_batch(spark, tmp_path, store):
    """Streaming array ingest: each micro-batch commits one version
    (delta index), readers time travel across batches, and a replayed
    batch is skipped by the idempotence marker."""
    import numpy as np
    import pandas as pd

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl
    from mandoline_spark.streaming import read_pieces_stream, stream_ingest

    spec = {
        "dimensions": {"x": 8, "y": 8},
        "chunk-dimensions": {"x": 4, "y": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x", "y"], "fill-value": 0}
        },
    }
    conn = store.create_dataset("streamed")

    def piece_file(path, region, value):
        slab = sb.empty("int", region, value)
        rows = writer.slabs_to_piece_rows(spec | {"version-id": 0}, "v", [slab])
        spark.createDataFrame(rows, schema=writer.piece_schema(2)).coalesce(
            1
        ).write.mode("overwrite").parquet(path)

    src = tmp_path / "pieces"
    src.mkdir()
    piece_file(str(src / "b1"), sl.mk_slice((0, 0), (4, 4)), 1)

    stream = read_pieces_stream(spark, str(src / "*"), ndim=2)
    q = (
        stream_ingest(conn, spec, "v", stream, str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    v1 = conn.last_version()
    assert v1 is not None

    piece_file(str(src / "b2"), sl.mk_slice((4, 4), (8, 8)), 2)
    q = (
        stream_ingest(conn, spec, "v", stream, str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    v2 = conn.last_version()
    assert v2 != v1

    # delta commits: the second version's generation is a delta
    assert conn.index_gen_is_delta(v2, "v", conn.index_gens(v2, "v")[0])

    want2 = np.zeros((8, 8), dtype=np.int32)
    want2[0:4, 0:4] = 1
    want2[4:8, 4:8] = 2
    got2 = reader.get_slice(
        conn, conn.metadata(v2), "v", sl.mk_slice((0, 0), (8, 8))
    ).data
    np.testing.assert_array_equal(got2, want2)

    want1 = np.zeros((8, 8), dtype=np.int32)
    want1[0:4, 0:4] = 1
    got1 = reader.get_slice(
        conn, conn.metadata(v1), "v", sl.mk_slice((0, 0), (8, 8))
    ).data
    np.testing.assert_array_equal(got1, want1)

    # replay with a fresh checkpoint: batch ids restart, markers skip
    # both batches — no new versions, no double-write
    q = (
        stream_ingest(conn, spec, "v", stream, str(tmp_path / "ck_replay"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert conn.last_version() == v2
    assert len(conn.version_ids()) == 2


def test_stream_ingest_replay_same_checkpoint_is_exactly_once(
    spark, tmp_path, store
):
    """foreachBatch is at-least-once: if the job dies AFTER the batch
    function's side effects but BEFORE the checkpoint records the
    commit, the restart re-runs the same batch id.  Simulate exactly
    that failure window by deleting the checkpoint's commit record for
    the last batch and restarting from the SAME checkpoint: the replayed
    batch must be skipped by the idempotence marker — no duplicate
    version, no double-applied chunks (r3 verdict item 6)."""
    import os

    import numpy as np

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl
    from mandoline_spark.streaming import read_pieces_stream, stream_ingest

    spec = {
        "dimensions": {"x": 8, "y": 8},
        "chunk-dimensions": {"x": 4, "y": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x", "y"], "fill-value": 0}
        },
    }
    conn = store.create_dataset("replayed")

    def piece_file(path, region, value):
        slab = sb.empty("int", region, value)
        rows = writer.slabs_to_piece_rows(spec | {"version-id": 0}, "v", [slab])
        spark.createDataFrame(rows, schema=writer.piece_schema(2)).coalesce(
            1
        ).write.mode("overwrite").parquet(path)

    src = tmp_path / "pieces"
    src.mkdir()
    # value 3 on an overlapping region: a double-apply would be visible
    # as an extra version, not silently idempotent data
    piece_file(str(src / "b1"), sl.mk_slice((0, 0), (4, 4)), 1)
    piece_file(str(src / "b2"), sl.mk_slice((2, 2), (6, 6)), 3)

    ck = str(tmp_path / "ck")
    stream = read_pieces_stream(spark, str(src / "*"), ndim=2)
    q = (
        stream_ingest(conn, spec, "v", stream, ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(conn.version_ids()) == 2
    v2 = conn.last_version()
    want = np.zeros((8, 8), dtype=np.int32)
    want[0:4, 0:4] = 1
    want[2:6, 2:6] = 3
    np.testing.assert_array_equal(
        reader.get_slice(
            conn, conn.metadata(v2), "v", sl.mk_slice((0, 0), (8, 8))
        ).data,
        want,
    )

    # the failure window: batch 1's side effects landed but its commit
    # record didn't — Spark WILL re-deliver batch 1 on restart
    commit_file = os.path.join(ck, "commits", "1")
    assert os.path.exists(commit_file)
    os.remove(commit_file)
    # Hadoop's ChecksumFileSystem leaves a .crc sidecar; a re-commit
    # renames onto it and fails as a phantom concurrent query
    crc = os.path.join(ck, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q = (
        stream_ingest(conn, spec, "v", stream, ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert len(conn.version_ids()) == 2, "replayed batch double-committed"
    assert conn.last_version() == v2
    np.testing.assert_array_equal(
        reader.get_slice(
            conn, conn.metadata(v2), "v", sl.mk_slice((0, 0), (8, 8))
        ).data,
        want,
    )


def test_stream_ingest_commit_without_marker_not_duplicated(
    spark, tmp_path, store
):
    """The NARROWER failure window: the version COMMITTED but the
    driver died before writing the idempotence marker.  On replay, the
    newest version's embedded batch-id identifies the already-applied
    batch — the marker is repaired and no duplicate version appears."""
    import os

    from mandoline_spark import writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl
    from mandoline_spark.streaming import read_pieces_stream, stream_ingest

    spec = {
        "dimensions": {"x": 4},
        "chunk-dimensions": {"x": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x"], "fill-value": 0}
        },
    }
    conn = store.create_dataset("marker_crash")
    rows = writer.slabs_to_piece_rows(
        spec | {"version-id": 0},
        "v",
        [sb.empty("int", sl.mk_slice((0,), (4,)), 9)],
    )
    src = tmp_path / "pieces"
    src.mkdir()
    spark.createDataFrame(rows, schema=writer.piece_schema(1)).coalesce(
        1
    ).write.mode("overwrite").parquet(str(src / "b0"))

    ck = str(tmp_path / "ck")
    stream = read_pieces_stream(spark, str(src / "*"), ndim=1)
    q = stream_ingest(conn, spec, "v", stream, ck).trigger(
        availableNow=True
    ).start()
    q.awaitTermination()
    assert len(conn.version_ids()) == 1
    v1 = conn.last_version()

    # simulate the crash: commit durable, marker AND checkpoint commit
    # record both lost
    marker = os.path.join(conn.path, "_ingest_batches", "0")
    assert os.path.exists(marker)
    os.remove(marker)
    for f in ("0",):
        p = os.path.join(ck, "commits", f)
        if os.path.exists(p):
            os.remove(p)
        crc = os.path.join(ck, "commits", f".{f}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    q = stream_ingest(conn, spec, "v", stream, ck).trigger(
        availableNow=True
    ).start()
    q.awaitTermination()
    assert len(conn.version_ids()) == 1, "commit-without-marker duplicated"
    assert conn.last_version() == v1
    assert os.path.exists(marker), "marker not repaired"


def test_dedup_stream_hash_fn_options(spark, tmp_path):
    """md5 default and the full-content ('none') path both drop the
    cross-batch duplicate; an unknown hash_fn raises."""
    import pytest

    from mandoline_spark.streaming.ops import dedup_stream, run_available_now

    src = tmp_path / "docs"
    src.mkdir()
    spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(2, "alpha beta"), (3, "new text")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b2"))

    for i, fn in enumerate(["md5", "none"]):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        out = dedup_stream(
            stream, content_col="text", id_col="doc_id", hash_fn=fn
        )
        name = f"dedup_hash_{i}"
        run_available_now(out, name, "append", str(tmp_path / f"ck{i}"))
        got = {(r.doc_id, r.text) for r in spark.table(name).collect()}
        assert got == {(1, "alpha beta"), (3, "new text")}, (fn, got)
        assert "_h" not in spark.table(name).columns

    with pytest.raises(ValueError, match="hash_fn"):
        dedup_stream(spark.range(1), content_col="id", hash_fn="crc32")


def test_stream_ingest_auto_compaction(spark, tmp_path, store):
    """compact_every=2: after the 2nd committed version the delta chain
    is collapsed into a full generation; reads unchanged."""
    import numpy as np

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slab as sb
    from mandoline_spark.core import slice as sl
    from mandoline_spark.streaming import read_pieces_stream, stream_ingest

    spec = {
        "dimensions": {"x": 8, "y": 8},
        "chunk-dimensions": {"x": 4, "y": 4},
        "variables": {
            "v": {"type": "int", "shape": ["x", "y"], "fill-value": 0}
        },
    }
    conn = store.create_dataset("compacted")

    def piece_file(path, region, value):
        slab = sb.empty("int", region, value)
        rows = writer.slabs_to_piece_rows(spec | {"version-id": 0}, "v", [slab])
        spark.createDataFrame(rows, schema=writer.piece_schema(2)).coalesce(
            1
        ).write.mode("overwrite").parquet(path)

    src = tmp_path / "pieces"
    src.mkdir()
    piece_file(str(src / "b1"), sl.mk_slice((0, 0), (8, 8)), 1)
    piece_file(str(src / "b2"), sl.mk_slice((0, 0), (4, 4)), 2)

    stream = read_pieces_stream(spark, str(src / "*"), ndim=2)
    q = (
        stream_ingest(
            conn, spec, "v", stream, str(tmp_path / "ck"), compact_every=2
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert len(conn.version_ids()) == 2
    v2 = conn.last_version()
    gens = conn.index_gens(v2, "v")
    # last generation is the compacted FULL one
    assert not conn.index_gen_is_delta(v2, "v", gens[-1])
    want = np.ones((8, 8), dtype=np.int32)
    want[0:4, 0:4] = 2
    got = reader.get_slice(
        conn, conn.metadata(v2), "v", sl.mk_slice((0, 0), (8, 8))
    ).data
    np.testing.assert_array_equal(got, want)


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """Global streaming dedup: a content re-sent in a LATER micro-batch
    is dropped (first writer wins), distinct contents all pass."""
    import pandas as pd

    from mandoline_spark.streaming.ops import dedup_stream, run_available_now

    src = tmp_path / "docs"
    src.mkdir()
    # two files -> two micro-batches (maxFilesPerTrigger=1); batch 2
    # repeats one content from batch 1 and adds a new one
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(3, "alpha beta"), (4, "epsilon zeta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = dedup_stream(stream, content_col="text", id_col="doc_id")
    run_available_now(out, "dedup_out", "append", str(tmp_path / "ck"))
    got = {
        (r.doc_id, r.text) for r in spark.table("dedup_out").collect()
    }
    kept_texts = {t for _, t in got}
    assert kept_texts == {"alpha beta", "gamma delta", "epsilon zeta"}
    # the duplicate content survives exactly once, from its first batch
    assert sum(1 for _, t in got if t == "alpha beta") == 1


def test_interval_join_streams_matches_batch(spark, tmp_path):
    """Stream-stream interval join equals the identical batch join, and
    only right rows within the lookback window pair up."""
    from pyspark.sql import functions as F

    from mandoline_spark.streaming.ops import (
        interval_join_streams,
        run_available_now,
    )

    lsrc, rsrc = tmp_path / "l", tmp_path / "r"
    base = "2024-01-01 10:{m:02d}:00"

    def mk(rows):
        return spark.createDataFrame(
            [(i, u, base.format(m=m), v) for i, (u, m, v) in enumerate(rows)],
            "event_id long, user_id long, ts_s string, value double",
        ).select(
            "event_id", "user_id",
            F.col("ts_s").cast("timestamp").alias("ts"), "value",
        )

    # left clicks at :10 and :30; right views at :05, :08, :25 —
    # lookback 10m pairs click:10 with views :05/:08, click:30 with :25
    mk([(1, 10, 1.0), (1, 30, 2.0)]).write.parquet(str(lsrc))
    mk([(1, 5, 9.0), (1, 8, 8.0), (1, 25, 7.0), (2, 9, 6.0)]).write.parquet(
        str(rsrc)
    )

    def stream(p):
        return (
            spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, value double"
            ).parquet(str(p))
        )

    joined = interval_join_streams(
        stream(lsrc), stream(rsrc), on="user_id", lookback="10 minutes"
    )
    run_available_now(joined, "ij_out", "append", str(tmp_path / "ck"))
    got = {
        (r.event_id, r.r_event_id)
        for r in spark.table("ij_out").collect()
    }
    assert got == {(0, 0), (0, 1), (1, 2)}


def test_neardup_gate_stream_both_modes(spark, tmp_path):
    """Streaming near-dup gate vs a static reference: exact copies and
    heavy-overlap near-dups of reference docs are gated out
    (broadcast mode keeps only novel docs; join mode flags the
    candidates), and both modes agree with the batch banding oracle —
    docs sharing >= 1 LSH band key with the reference."""
    from mandoline_spark.functions.dedup import band_key_array
    from mandoline_spark.streaming.ops import (
        neardup_gate_stream,
        run_available_now,
    )

    ref = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog again and again"),
            (101, "pack my box with five dozen liquor jugs every single day"),
        ],
        "doc_id long, text string",
    )
    rows = [
        # exact copy of ref 100 -> all bands match, must be gated
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        # novel doc -> kept
        (2, "completely different words about spark catalyst and parquet files"),
        # near-dup of ref 101 (one word changed) -> likely gated
        (3, "pack my box with five dozen liquor jugs every single night"),
        # empty doc -> kept (unique band keys by construction)
        (4, ""),
    ]
    src = tmp_path / "docs"
    src.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src / "*"))
        )

    # batch banding oracle: stream docs sharing any band key with ref
    ref_keys = {
        r["key"]
        for r in band_key_array(ref, empty_salt="__gate_ref__")
        .selectExpr("explode(_band_keys) AS key")
        .collect()
    }
    batch_docs = spark.createDataFrame(rows, "doc_id long, text string")
    expect_flagged = {
        r["doc_id"]
        for r in band_key_array(batch_docs, empty_salt="__gate_stream__")
        .selectExpr("doc_id", "explode(_band_keys) AS key")
        .collect()
        if r["key"] in ref_keys
    }
    assert 1 in expect_flagged and 2 not in expect_flagged
    assert 4 not in expect_flagged

    kept = neardup_gate_stream(stream(), ref)
    run_available_now(kept, "gate_kept", "append", str(tmp_path / "ck1"))
    got_kept = {r.doc_id for r in spark.table("gate_kept").collect()}
    assert got_kept == {r[0] for r in rows} - expect_flagged

    flagged = neardup_gate_stream(stream(), ref, mode="join")
    run_available_now(flagged, "gate_flag", "append", str(tmp_path / "ck2"))
    got_flagged = {r.doc_id for r in spark.table("gate_flag").collect()}
    assert got_flagged == expect_flagged


def test_ordered_multibatch_replay_evicts_across_batches(spark, tmp_path):
    """r14 (q107's contract): with event-time-ORDERED files and
    maxFilesPerTrigger=1, the watermark advances between micro-batches
    and finalized sessions are emitted BEFORE the closing no-data
    batch — cross-micro-batch eviction, not one big flush — and the
    final result equals the single-batch run."""
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    batches = [
        [_ev(0, "2024-01-01 10:00:00", user=1),
         _ev(1, "2024-01-01 10:05:00", user=1)],
        [_ev(2, "2024-01-01 13:00:00", user=2)],
        [_ev(3, "2024-01-01 16:00:00", user=3)],
    ]
    for i, rows in enumerate(batches):
        _write_events_file(str(src / f"f{i}.parquet"), rows, now - 30 + i)

    stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
    agg = session_counts(stream, gap="10 minutes", watermark="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("ordered_mb")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_mb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) == 3, [p["numInputRows"] for p in progress]
    # eviction happened mid-stream: some batch BEFORE the last
    # data/no-data batch already wrote finalized sessions to the sink
    out_by_batch = [p["sink"].get("numOutputRows", 0) for p in progress]
    assert sum(out_by_batch[:-1]) >= 1, out_by_batch
    got = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in spark.table("ordered_mb").collect()
    }
    # single-batch reference: same data, one trigger
    stream1 = read_events_stream(spark, str(src), max_files_per_trigger=8)
    agg1 = session_counts(stream1, gap="10 minutes", watermark="30 minutes")
    run_available_now(agg1, "ordered_sb", "append", str(tmp_path / "ck_sb"))
    want = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in spark.table("ordered_sb").collect()
    }
    assert got == want
    # the 16:00 tail event is above the final watermark: finalized
    # sessions are exactly users 1 and 2
    assert set(u for u, _ in got) == {1, 2}


def test_replay_workspace_lifecycle(tmp_path, monkeypatch):
    """VERDICT r15 #8 / ADVICE r15: the q106-q109 replay dirs are
    lifecycle-bounded, not interpreter-lifetime.  Three pins: (a) a
    same-family temp dir whose recorded owner pid is dead is pruned by
    the next _replay_workspace call in any process; (b) a dir owned by
    a LIVE pid is left alone; (c) a memo entry whose SparkSession was
    stopped (simulated via a collected weakref) is swept and its dir
    removed."""
    import os
    import subprocess
    import tempfile
    import weakref

    from mandoline_spark import queries as Q

    # route tempfile at a private root so the test never touches real
    # /tmp state (and never races a concurrently-running bench)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    # (a) dead-owner dir: a real subprocess that has already exited
    dead_pid = subprocess.run(
        ["python", "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    stale = tmp_path / "mandoline_q106_stale"
    stale.mkdir()
    (stale / "owner.pid").write_text(dead_pid)
    # (b) live-owner dir (this process)
    live = tmp_path / "mandoline_q107_live"
    live.mkdir()
    (live / "owner.pid").write_text(str(os.getpid()))
    # unstamped dir: not ours to judge, must survive
    foreign = tmp_path / "mandoline_q109_foreign"
    foreign.mkdir()

    # (c) memo entry owned by a collected session object
    class _Dummy:
        pass

    doomed = tmp_path / "doomed"
    doomed.mkdir()
    obj = _Dummy()
    ref = weakref.ref(obj)
    Q._Q106_MEMO["__lifecycle_test__"] = {
        "out": str(doomed / "out"),
        "schema": None,
        "tmp": str(doomed),
        "spark_ref": ref,
    }
    del obj  # ref() is now None == stopped/collected session

    created = Q._replay_workspace("mandoline_q106_")
    try:
        assert not stale.exists(), "dead-owner dir must be pruned"
        assert live.exists(), "live-owner dir must survive"
        assert foreign.exists(), "unstamped dir must survive"
        assert not doomed.exists(), "stopped-session memo dir must be swept"
        assert "__lifecycle_test__" not in Q._Q106_MEMO
        pid_file = os.path.join(created, "owner.pid")
        assert os.path.exists(pid_file)
        assert open(pid_file).read().strip() == str(os.getpid())
    finally:
        import shutil

        shutil.rmtree(created, ignore_errors=True)
