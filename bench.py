#!/usr/bin/env python
"""Benchmark harness: runs the declared query surface at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end through the noop sink (full computation,
no driver collect skew).  A one-query warmup absorbs JVM/codegen
startup so the numbers measure the plans, not session boot.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


PERF_X, PERF_Y, PERF_T, PERF_C = 400, 600, 900, 30


def perf_pieces(spark):
    """Executor-generated chunk pieces at the reference's perf shape
    (8,400 chunks, 412 MiB) — shared by bench_array's ingest and the
    box-health canary so both measure the SAME generator workload."""
    import numpy as np
    import pandas as pd

    from mandoline_spark import writer

    X, Y, T, C = PERF_X, PERF_Y, PERF_T, PERF_C
    coords = [
        (cx, cy, ct)
        for cx in range(-(-X // C))
        for cy in range(-(-Y // C))
        for ct in range(-(-T // C))
    ]
    assert len(coords) == 8400, len(coords)
    cdf = spark.createDataFrame(
        pd.DataFrame(coords, columns=["c0", "c1", "c2"])
    ).repartition(32)

    def gen(batches):
        base = np.arange(C, dtype=np.int64)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                c0, c1, c2 = int(r.c0), int(r.c1), int(r.c2)
                # outer-sum of three 1-d ramps ≡ the old fromfunction
                # lambda, ~10x cheaper (the generator must not
                # dominate the ingest measurement)
                a = (
                    (
                        ((c0 * C + base) * 7)[:, None, None]
                        + ((c1 * C + base) * 3)[None, :, None]
                        + (c2 * C + base)[None, None, :]
                    )
                    % 1000
                ).astype("<i2")
                # x-edge chunks extend past the 400 extent: the
                # out-of-extent region holds the fill value, the
                # same canonical content write_variable's
                # get-base-chunk path would produce
                if (c0 + 1) * C > X:
                    a[X - c0 * C :, :, :] = -3
                rows.append(
                    {
                        "ckey": f"{c0}_{c1}_{c2}",
                        "c0": c0,
                        "c1": c1,
                        "c2": c2,
                        "ord": 0,
                        "pstart": [c0 * C, c1 * C, c2 * C],
                        "pstop": [(c0 + 1) * C, (c1 + 1) * C, (c2 + 1) * C],
                        "data": a.tobytes(),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "ckey", "c0", "c1", "c2", "ord", "pstart", "pstop",
                    "data",
                ],
            )

    return cdf.mapInPandas(gen, writer.piece_schema(3))


def _gen_share_once(spark, pieces) -> float:
    """One timed generator-sum pass — the workload whose healthy
    wall-time (~0.9-1.0 s on this box) is the box-health reference."""
    import pyspark.sql.functions as F

    t0 = time.perf_counter()
    assert (
        pieces.select(F.length("data").alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
        == 8400 * 54000
    )
    return time.perf_counter() - t0


def box_health_gate(spark) -> dict:
    """Measure the generator-share canary FIRST and refuse to proceed
    into a headline record while the box is steal-degraded (r11
    verdict #2: BENCH_r11's final record was taken in a window where
    ten+ untouched queries moved +1.7-2x in lockstep and the canary
    read 1.91 s vs the healthy ~1.0 s).  Retries with a wait up to
    SPARK_GRAFT_CANARY_TRIES times; a builder RECORD run
    (SPARK_GRAFT_RECORD_DETAIL=1) that never sees a healthy window
    aborts rather than commit a degraded headline, while an ordinary
    (driver) run proceeds with the degradation stamped in the JSON."""
    pieces = perf_pieces(spark)
    threshold = float(os.environ.get("SPARK_GRAFT_GENSHARE_MAX", "1.30"))
    tries = max(1, int(os.environ.get("SPARK_GRAFT_CANARY_TRIES", "5")))
    wait = float(os.environ.get("SPARK_GRAFT_CANARY_WAIT", "20"))
    _gen_share_once(spark, pieces)  # untimed: codegen/worker spawn
    runs: list[float] = []
    for attempt in range(tries):
        best = min(_gen_share_once(spark, pieces) for _ in range(2))
        runs.append(round(best, 4))
        if best <= threshold:
            break
        print(
            f"box-health canary degraded: gen-share {best:.2f}s > "
            f"{threshold:.2f}s (attempt {attempt + 1}/{tries}); "
            f"waiting {wait:.0f}s",
            file=sys.stderr,
        )
        if attempt + 1 < tries:
            time.sleep(wait)
    health = {
        "gen_share_sec": runs[-1],
        "threshold_sec": threshold,
        "attempts": len(runs),
        "runs": runs,
        "healthy": runs[-1] <= threshold,
    }
    if not health["healthy"] and os.environ.get(
        "SPARK_GRAFT_RECORD_DETAIL"
    ) == "1":
        print(
            json.dumps({"metric": "bench_refused_degraded_box",
                        "box_health": health}),
            file=sys.stderr,
        )
        raise SystemExit(3)
    return health


SPLIT_TABLES = ("lineitem", "orders", "events")


def make_mf_fixture(sf_dir: str, n_files: int = 16) -> str:
    """Build the canonical production-shaped bench fixture: the fact
    tables (SPLIT_TABLES) split into ``n_files`` part files, every
    other table symlinked.  Shared with tools/probe_fa_tail.py so the
    probe and the bench always measure the SAME layout (r12 review:
    a copy-pasted builder had already drifted on the events split).
    Registers its own atexit cleanup right after mkdtemp, so the dir
    is collected on EVERY exit path — including a raise mid-build
    (missing table) and the box-health gate's SystemExit refusal."""
    import atexit
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    mf_dir = tempfile.mkdtemp(prefix="bench_mf_")
    atexit.register(shutil.rmtree, mf_dir, ignore_errors=True)
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(mf_dir, f"{t}.parquet")
        if t not in SPLIT_TABLES:
            os.symlink(src, dst)
            continue
        os.makedirs(dst)
        tbl = pq.read_table(src)
        per = (tbl.num_rows + n_files - 1) // n_files
        for i in range(n_files):
            frag = tbl.slice(i * per, per)
            if frag.num_rows == 0:
                break
            pq.write_table(
                frag, os.path.join(dst, f"part-{i:05d}.parquet")
            )
    return mf_dir


def bench_array(spark) -> dict[str, float]:
    """Array-store workload at the reference's OWN perf shape
    (resources/performance.json: 400x600x900 short, 30^3 chunks —
    8,400 chunks, 412 MiB), the one workload the reference ships a
    perf definition for: ingest + full-scan + random 10^3-slice reads.
    The x extent (400 = 13*30 + 10) is NOT chunk-aligned, so the x-edge
    chunks are stored full-size with fill beyond the extent, exactly
    the reference's chunk model (chunk.clj:27-33).  Ingest generates
    pieces IN EXECUTORS (mapInPandas over chunk coordinates →
    ingest_aligned) — the 100 TB shape, nothing funnels through the
    driver."""
    import shutil
    import tempfile

    import numpy as np
    import pandas as pd

    from mandoline_spark import reader, writer
    from mandoline_spark.core import slice as sl
    from mandoline_spark.store import Store

    X, Y, T, C = 400, 600, 900, 30
    root = tempfile.mkdtemp(prefix="mandoline_bench_arr")
    out: dict[str, float] = {}
    try:
        store = Store(spark, root)
        # Array warmup, mirroring the relational queries' warmup: a
        # throwaway 2-chunk dataset drives the ingest/scan code paths
        # once so the timed runs measure the plans, not first-call
        # JIT/codegen/committer setup (measured 3-7x on the first
        # array op of a session).
        wconn = store.create_dataset("warmup")
        wtok = wconn.add_version(
            {
                "dimensions": {"x": 2 * C},
                "chunk-dimensions": {"x": C},
                "variables": {
                    "v": {"type": "short", "shape": ["x"], "fill-value": 0}
                },
            }
        )
        from mandoline_spark.core import slab as _sb

        # through ingest_aligned, the timed ingest's Spark path: a
        # write_variable here would take the job-free driver write tier
        wrows = writer.slabs_to_piece_rows(
            wtok, "v", [_sb.empty("short", sl.mk_slice((0,), (2 * C,)), 1)]
        )
        writer.ingest_aligned(
            wconn, wtok, "v",
            spark.createDataFrame(wrows, schema=writer.piece_schema(1)),
        )
        wconn.finish_version(wtok)
        reader.get_slice(
            wconn,
            reader.on_last_version(wconn),
            "v",
            sl.mk_slice((0,), (2 * C,)),
        )
        spec = {
            "dimensions": {"x": X, "y": Y, "t": T},
            "chunk-dimensions": {"x": C, "y": C, "t": C},
            "variables": {
                "v": {"type": "short", "shape": ["x", "y", "t"], "fill-value": -3}
            },
        }
        pieces = perf_pieces(spark)
        # best-of-2 for the ingest too (two fresh datasets, min): the
        # one-shot version of this measurement swung 2-6x under host
        # noise; the min measures the write plan.  The first dataset is
        # destroyed so the scan phase below reads exactly one copy.
        ingests = []
        conn = None
        for i in range(2):
            if conn is not None:
                store.destroy_dataset(conn.name)
            conn = store.create_dataset(f"perf{i}")
            tok = conn.add_version(spec)
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            # chunk-aligned executor-generated pieces → zero-shuffle path
            writer.ingest_aligned(conn, tok, "v", pieces)
            conn.finish_version(tok)
            ingests.append(time.perf_counter() - t0)
        out["arr_ingest_412mb"] = round(min(ingests), 4)
        # Generator share, recorded so the ingest number is
        # interpretable: the timed pipeline necessarily includes the
        # bench's OWN executor-side data generator (pieces stream
        # through ingest_aligned's job), and a sum(length) pass over
        # the same pieces isolates gen + Arrow transfer from the
        # engine's hash/dedup/write/commit work (measured ~0.9 s of a
        # ~2.8 s ingest).  Kept inside the metric — dropping it would
        # redefine arr_ingest mid-build and fake a speedup — but the
        # share rides the meta record.
        t0 = time.perf_counter()
        import pyspark.sql.functions as _Fg

        assert (
            pieces.select(_Fg.length("data").alias("n"))
            .agg(_Fg.sum("n"))
            .collect()[0][0]
            == 8400 * 54000
        )
        out["arr_ingest_gen_share_runs"] = [
            round(time.perf_counter() - t0, 4)
        ]

        token = reader.on_last_version(conn)
        # GC barrier between phases: the ingest leaves ~400 MB of
        # short-lived JVM garbage; without an explicit collection the
        # collector runs DURING the scan measurement, stealing cores
        # from the driver-side assembly (observed 3x swings on the same
        # plan).  This measures the scan, not the ingest's garbage.
        spark.sparkContext._jvm.System.gc()
        # MEDIAN-of-5 with a GC barrier per run (VERDICT r7 "what's
        # missing" #2: this one workload's 412 MiB driver-side assembly
        # carried a 4x measurement band across rounds — 2.5s best,
        # 10.5s worst, on identical code).  The driver funnel is the
        # REFERENCE'S OWN contract for get-slice (mandoline.clj:260-270
        # returns one in-memory array), so the workload stays; the
        # median of five runs is robust to the GC landing inside any
        # one of them, and the full run list + spread is recorded so a
        # future drift is visible as measurement, not regression.
        import gc as _gc

        # One UNTIMED warmup scan first — the same treatment the query
        # surface gets (its one-query warmup absorbs JVM/codegen
        # first-run costs): across r5–r8 the FIRST scan of a fresh
        # dataset was consistently the slowest of the five (page-cache
        # population + codegen for the read path), e.g. r8 run 5:
        # [8.46, 4.13, 5.82, 4.38, 4.62].  The warmup moves the
        # measured five onto the steady state the median is meant to
        # summarize; the run list still records all five timed runs.
        warm = reader.get_slice(
            conn, token, "v", sl.mk_slice((0, 0, 0), (X, Y, T))
        )
        assert warm.data.shape == (X, Y, T)
        del warm

        scans = []
        for _ in range(5):
            _gc.collect()  # drop the previous 412 MiB python-side array
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            full = reader.get_slice(
                conn, token, "v", sl.mk_slice((0, 0, 0), (X, Y, T))
            )
            scans.append(time.perf_counter() - t0)
            assert full.data.shape == (X, Y, T)
            del full
        ordered = sorted(scans)
        out["arr_scan_full"] = round(ordered[len(ordered) // 2], 4)
        # execution order preserved: a drifting (e.g. heap-pressure)
        # trend is distinguishable from a one-off pause
        out["arr_scan_full_runs"] = [round(s, 4) for s in scans]
        out["arr_scan_full_spread"] = round(ordered[-1] / ordered[0], 2)

        # Distributed-materialization twin: decode every chunk
        # EXECUTOR-side and reduce to (cell count, checksum) JVM-side —
        # no driver funnel, the shape a 100 TB full scan actually uses
        # (the driver variant above exists because the reference defines
        # the workload that way).  Uses the same resolved index + chunk
        # table the driver path reads.
        import pyspark.sql.functions as _F

        from mandoline_spark.core import slab as _sb2

        vid = token["version-id"]
        idx = conn.resolve_index_df(vid, "v")
        chunks_tbl = conn.chunks_df()
        joined = idx.select("c0", "c1", "c2", "chunk_hash").join(
            chunks_tbl.select(
                _F.col("hash").alias("chunk_hash"), "blob"
            ).hint("shuffle_hash"),
            "chunk_hash",
        )

        def _chunk_stats(batches):
            for pdf in batches:
                ns, sums = [], []
                for r in pdf.itertuples():
                    lo = (int(r.c0) * C, int(r.c1) * C, int(r.c2) * C)
                    slab = _sb2.from_bytes(
                        bytes(r.blob),
                        "short",
                        sl.mk_slice(lo, tuple(v + C for v in lo)),
                    )
                    ns.append(slab.data.size)
                    sums.append(int(slab.data.sum()))
                yield pd.DataFrame({"n": ns, "s": sums})

        def _dist_scan() -> float:
            t0 = time.perf_counter()
            row = (
                joined.mapInPandas(_chunk_stats, "n long, s long")
                .agg(_F.sum("n").alias("n"), _F.sum("s").alias("s"))
                .collect()[0]
            )
            dt = time.perf_counter() - t0
            assert row["n"] == 8400 * C * C * C, row
            return dt

        out["arr_scan_full_dist"] = round(min(_dist_scan(), _dist_scan()), 4)
        spark.sparkContext._jvm.System.gc()

        # repeated-read phase runs with the read-through cache on (the
        # reference reader's default wrapper stack includes an LRU chunk
        # cache, impl.clj:127-162); invalidate between repeats so both
        # runs pay the same cold-cache cost
        slice_runs = []
        for _ in range(2):
            conn.invalidate_cache()
            conn.cache_reads = True
            rng = np.random.default_rng(0)
            t0 = time.perf_counter()
            for _ in range(10):
                s = tuple(int(rng.integers(0, d - 10)) for d in (X, Y, T))
                reader.get_slice(
                    conn, token, "v", sl.mk_slice(s, tuple(x + 10 for x in s))
                )
            slice_runs.append(time.perf_counter() - t0)
        out["arr_read_slices_x10"] = round(min(slice_runs), 4)
        conn.invalidate_cache()

        # Strided full scan (step 2 per dim): touched bytes = the whole
        # 412 MiB array, but the executors subsample each chunk to the
        # stride lattice before shipping (r10), so the Arrow transfer
        # and driver assembly carry 1/8 of the cells.  Ideal = well
        # under the full-scan time; at parity with it the executor
        # subsampling would be broken (box-shipping regression).
        # Cache tier OFF (r10 review: the slices phase leaves
        # cache_reads=True, and a block-manager-cached chunk table
        # would bias this number fast independent of subsampling —
        # arr_scan_full, its stated baseline, ran cold).
        conn.cache_reads = False
        strided_runs = []
        for _ in range(2):
            _gc.collect()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            got = reader.get_slice(
                conn,
                token,
                "v",
                sl.Slice((0, 0, 0), (X, Y, T), (2, 2, 2)),
            )
            strided_runs.append(time.perf_counter() - t0)
            assert got.data.shape == (X // 2, Y // 2, (T + 1) // 2)
            del got
        out["arr_scan_strided_s2"] = round(min(strided_runs), 4)
        # restore the read-tier state the delta-depth phase has always
        # measured under (cache on, invalidated between reads)
        conn.cache_reads = True

        # Delta-overlay read cost vs chain depth (store.py's
        # "compact_every" guidance wants a measured number): for depth
        # d in (1, 5, 10), a version gets its OWN full base commit and
        # then d delta commits (each touching one distinct chunk), and
        # a fixed 2x2x2-chunk slice is read at that depth.  The own
        # full base keeps resolution to "newest full + d deltas" — a
        # delta-only version would fall back through the PREVIOUS
        # depth's (delta-only) version, silently adding its chain to
        # the measurement.
        base_chunk = _sb.empty(
            "short", sl.mk_slice((0, 0, 0), (C, C, C)), 5
        )
        for depth in (1, 5, 10):
            tok_d = conn.add_version(spec)
            writer.write_variable(conn, tok_d, "v", [base_chunk])
            for k in range(depth):
                slab_d = _sb.empty(
                    "short",
                    sl.mk_slice((k * C, 0, 0), ((k + 1) * C, C, C)),
                    7,
                )
                writer.write_variable(
                    conn, tok_d, "v", [slab_d], index_mode="delta"
                )
            vd = conn.finish_version(tok_d)
            reads = []
            for _ in range(2):
                conn.invalidate_cache()
                t0 = time.perf_counter()
                got = reader.get_slice(
                    conn,
                    reader.on_version(conn, vd),
                    "v",
                    sl.mk_slice((0, 0, 0), (2 * C, 2 * C, 2 * C)),
                )
                reads.append(time.perf_counter() - t0)
                assert got.data.shape == (2 * C, 2 * C, 2 * C)
            out[f"arr_delta_read_d{depth}"] = round(min(reads), 4)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    sf = float(m.group(1)) if m else None

    from mandoline_spark.queries import QUERIES
    from mandoline_spark.sources.session import get_spark

    spark = get_spark("mandoline_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Size the shuffle to the benchmark scale (sf0.1 ≈ 30 MB of parquet):
    # 8 post-shuffle partitions keep every core busy without paying
    # 32-task scheduling overhead per tiny stage.  On a real cluster the
    # session default (cores-proportional) applies.
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")

    # Canonical fixture (r11 verdict #3): the multi-file fact layout.
    # Two rounds of row-group probes proved the single-file one-row-
    # group testdata serializes fact scans into ~3 tasks — a layout no
    # production 100-TB deployment has (those are thousands of ~128 MB
    # files).  The headline now times every query against lineitem/
    # orders split into 16 part files (other tables symlinked); the
    # old single-file numbers ride as side entries for q91/q104, the
    # two queries whose weak marks the artifact created.  events joins
    # the split set in r12: the q90 decomposition (BASELINE.md) showed
    # the same one-row-group serialization on the events scan.
    import shutil as _sh

    # make_mf_fixture registers its own atexit cleanup, covering the
    # box-health gate's refusal (SystemExit) and mid-bench exceptions;
    # the explicit rmtree after the DuckDB pair frees the disk early
    # on the common path
    mf_dir = make_mf_fixture(sf_dir)
    def run(df) -> None:
        # Execute the physical plan fully and count rows JVM-side —
        # the spark-sql-perf measurement kernel
        # (executedPlan.execute().foreach), reached via
        # QueryExecution.toRdd.  Identical work to the noop-sink write
        # minus the DataSourceV2 write wrapper, whose per-action
        # re-analysis + commit protocol measured ~40ms of constant on
        # a zero-data two-stage job.  Every operator still runs over
        # every row; nothing is collected to Python.
        #
        # The select("*") wrapper is load-bearing: QueryExecution
        # caches toRdd, so re-running a PRE-BUILT DataFrame through
        # the cached handle re-submits the SAME stage RDDs and the
        # scheduler serves the shuffle stages from the first pass's
        # map outputs ("skipped stages") — the best-of-2 min would
        # then time only the final stage (observed: a 1.4s minhash
        # query "measuring" 28ms on its second pass).  A fresh
        # trivial projection forces a fresh QueryExecution and fresh
        # exchange instances, so every pass re-executes every stage.
        df.select("*")._jdf.queryExecution().toRdd().count()

    # warmup: JVM, codegen, parquet footers, Python UDF workers, and the
    # q34/q35 array fixture (fixture build is setup, not the read path)
    run(QUERIES["q10_agg_hash"](spark, mf_dir))
    run(QUERIES["q33_udf_surface"](spark, mf_dir))
    run(QUERIES["q32_multimodal"](spark, mf_dir))
    run(QUERIES["q34_array_slice"](spark, mf_dir))

    # Box-health gate BEFORE any headline measurement (r11 verdict #2)
    box_health = box_health_gate(spark)

    # The array phase runs first: its one-shot ingest measurement has no
    # repeat protection, so it gets the cleanest session state (it tears
    # down its dataset and invalidates caches afterwards).
    times: dict[str, float] = {}
    times.update(bench_array(spark))
    # measurement metadata (run lists / spread ratios) rides into the
    # detail file, not the summed per-query map.  The strided-scan
    # entry (new in r10) also rides here: adding a workload to the
    # SUMMED map would inflate the headline totals the driver compares
    # round-over-round by ~1.5s of pure new-coverage time.
    arr_scan_meta = {
        k: times.pop(k)
        for k in list(times)
        if k.endswith("_runs")
        or k.endswith("_spread")
        or k == "arr_scan_strided_s2"
    }

    # Queries whose CONSTRUCTION already executes Spark jobs — the
    # iterative label propagation (its rounds run eagerly), the IVF
    # quantizer's training scan, and the array store's catalog/version
    # resolution reads.  Timing a pre-built DataFrame would hide that
    # work, so these are timed end-to-end, construction included.
    # (q37 left this set in r8: its max_df path no longer persists
    # anything — the pair and size subtrees share one exchange via
    # ReuseExchange, and the run() select("*") wrapper already forces
    # fresh exchanges per pass.)
    rebuild_per_pass = {
        "q82_neardup_clusters",
        "q83_dedup_cluster_keep",
        "q66_ann_ivf_top1",
        "q34_array_slice",
        "q35_array_timetravel",
        "q81_array_version_diff",
    }

    # Everything else is pure-declarative: build the DataFrame ONCE,
    # outside the timers.  Plan construction is Python/py4j API chatter
    # — a client-API constant, not plan cost (DuckDB's equivalent
    # parse+bind is ~1ms; a production deployment registers each query
    # once as a view and re-executes the analyzed plan).  It is
    # REPORTED (build_sec_total) and INCLUDED in total_with_build so
    # cross-engine and cross-round totals stay apples-to-apples
    # (ADVICE r5).  The build itself runs on a thread pool: py4j calls
    # are socket I/O that releases the GIL, so 16 client threads build
    # the 100-query surface ~3x faster than one — the same way a real
    # deployment's concurrent sessions would, with no effect on the
    # measured plans (construction only, no jobs).
    from concurrent.futures import ThreadPoolExecutor

    build_names = [n for n in sorted(QUERIES) if n not in rebuild_per_pass]
    t0 = time.perf_counter()
    with ThreadPoolExecutor(16) as pool:
        built = dict(
            zip(
                build_names,
                pool.map(
                    lambda n: QUERIES[n](spark, mf_dir), build_names
                ),
            )
        )
    build_sec = round(time.perf_counter() - t0, 4)

    # best-of-2 per query: with 100+ queries on one JVM, GC pauses and
    # context-cleaner work land on whichever query happens to be running
    # (observed 2-3x swings on identical plans between runs); the min of
    # two passes measures the plan, not the pause.  The multi-job
    # iterative entries get one extra pass: a single pause can taint a
    # whole multi-round measurement (observed 1.9-3.8s spreads on the
    # identical q82 plan).  No System.gc() barrier here — unlike the
    # arr phase's bulk-bytes case it measured WORSE: G1's concurrent
    # phases keep stealing cores after the call returns, landing inside
    # the very window the barrier was meant to protect.
    # three full passes (best-of-3): with ~100 queries on one JVM the
    # min-of-2 still let one GC/context-cleaner pause taint a query's
    # only clean pass (r8: untouched queries moved up to 70% BETWEEN
    # runs while DuckDB moved <1%); the third pass costs ~30s and
    # tightens the per-query floor materially
    # Per-query Spark JOB counts ride the record (r15, VERDICT r14 #2):
    # jobs x floor is the whole-surface constants term the headline
    # decomposition subtracts, measured on pass 2 (post-warmup; the
    # count is a plan property, identical across passes) via the same
    # job-group tracking the fa-tail probes use.
    jobs_per_query: dict[str, int] = {}
    _tracker = spark.sparkContext.statusTracker()
    for pidx, extra in enumerate((False, False, False, True)):
        for name in sorted(QUERIES):
            if extra and name not in rebuild_per_pass:
                continue
            gid = f"bench_jobs_{name}" if pidx == 1 else None
            if gid:
                spark.sparkContext.setJobGroup(gid, name)
            t0 = time.perf_counter()
            run(
                QUERIES[name](spark, mf_dir)
                if name in rebuild_per_pass
                else built[name]
            )
            dt = round(time.perf_counter() - t0, 4)
            if gid:
                jobs_per_query[name] = len(
                    _tracker.getJobIdsForGroup(gid)
                )
                spark.sparkContext.setJobGroup("", "")
            times[name] = min(times.get(name, dt), dt)

    # Single-file side entries for q91/q104 — the two queries whose
    # weak marks the one-row-group single-file fixture created (probes
    # r10+r11, BASELINE.md).  The HEADLINE now runs on the multi-file
    # layout (r11 verdict #3); these keep the old layout's numbers
    # visible so round-over-round comparisons against pre-r12 records
    # stay interpretable.  Detail-only: adding them to the SUMMED map
    # would double-count the queries.
    for q in ("q91_star_join", "q104_shipping_priority"):
        sfv = None
        for _ in range(3):
            t0 = time.perf_counter()
            run(QUERIES[q](spark, sf_dir))
            dt = time.perf_counter() - t0
            sfv = dt if sfv is None else min(sfv, dt)
        arr_scan_meta[f"{q}_singlefile"] = round(sfv, 4)

    # Measure the local-mode per-job scheduling floor: the median of
    # five zero-data jobs with the two-stage shape every query pays
    # (a source stage, one exchange, a post-shuffle stage — but ~no
    # rows, so no plan cost).  This is pure submit/schedule/task-launch
    # overhead that a real cluster run amortizes away across ~100 tiny
    # sf0.1 queries.  The floor-adjusted total subtracts it per query
    # entry (never below zero) so plan cost is comparable against
    # single-process engines that have no such floor; arr_* entries
    # are multi-job workloads and stay unadjusted.
    floors = []
    for _ in range(5):
        t0 = time.perf_counter()
        from pyspark.sql import functions as F

        run(spark.range(8).groupBy((F.col("id") % 2).alias("k")).count())
        floors.append(time.perf_counter() - t0)
    floor = sorted(floors)[len(floors) // 2]

    # Throughput run: the same 100+ query surface submitted from 8
    # client threads into one scheduler — the TPC-style throughput
    # test beside the sequential power run above.  This is the number
    # that shows what the per-query scheduling floor amortizes to when
    # queries pipeline (as they do on any shared cluster or multi-user
    # deployment); the sequential sum stays the headline.  Each run
    # still re-executes every stage (fresh QueryExecution per run —
    # see run()); tools/duckdb_baseline.py reports the same metric for
    # the oracle side.
    def _one_query(name: str) -> None:
        run(
            QUERIES[name](spark, mf_dir)
            if name in rebuild_per_pass
            else built[name]
        )

    from concurrent.futures import ThreadPoolExecutor as _TPE

    # best-of-2 (r12): the one-shot throughput number carried 2-3x
    # window noise (measured 7.5-18.8 s on identical code within one
    # session) — the same GC/steal sensitivity the sequential loop's
    # best-of-3 exists for, amplified by 8-way concurrency.  Both runs
    # ride the detail record so drift stays visible as measurement.
    conc8_runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        with _TPE(8) as pool:
            list(pool.map(_one_query, sorted(QUERIES)))
        conc8_runs.append(round(time.perf_counter() - t0, 4))
    concurrent8_sec = min(conc8_runs)

    # Same-session DuckDB pair (VERDICT r7 #5): the oracle baseline is
    # re-measured in THIS process's session window, so the reported
    # ratio is never normalized across the box's documented ±15-20%
    # session drift.  Best-effort: a missing duckdb leaves the Spark
    # numbers standing alone.
    duck = None
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(
            os.path.abspath(__file__)), "tools"))
        import duckdb_baseline

        # Re-gate on a FRESH canary before the pair runs: the DuckDB
        # side executes LAST, and a window can degrade mid-run (w4:
        # entry canary 0.95, exit 2.48 — the degraded oracle side
        # flattered the ratio just as a degraded Spark side would
        # damn it).  Same threshold and retry budget as the opening
        # gate; the reading rides the record.
        thr = box_health["threshold_sec"]
        pair_pieces = perf_pieces(spark)
        for attempt in range(
            max(1, int(os.environ.get("SPARK_GRAFT_CANARY_TRIES", "5")))
        ):
            pair_canary = round(
                min(_gen_share_once(spark, pair_pieces) for _ in range(2)),
                4,
            )
            if pair_canary <= thr:
                break
            print(
                f"duckdb-pair canary degraded: {pair_canary:.2f}s > "
                f"{thr:.2f}s; waiting",
                file=sys.stderr,
            )
            time.sleep(
                float(os.environ.get("SPARK_GRAFT_CANARY_WAIT", "20"))
            )
        box_health["gen_share_duckdb_pair_sec"] = pair_canary

        # the SAME multi-file layout the Spark side timed — the 2x
        # comparison stays same-box, same-files (r11 verdict #3)
        duck = duckdb_baseline.run(mf_dir, canonical=(sf == 0.1))
    except Exception as exc:  # pragma: no cover - environment-dependent
        print(f"duckdb baseline skipped: {exc}", file=sys.stderr)

    # End-of-run canary: one more gen-share measurement so a
    # degradation that LANDED mid-run (after the opening gate passed)
    # is visible in the record rather than inferred from query drift.
    # r13 (r12 verdict #4): the end canary is part of record ACCEPTANCE,
    # not just annotation — same retry budget as the opening/pair gates,
    # and a record-mode run that still reads degraded is REFUSED (w4's
    # flattered 0.88× — degraded DuckDB side, healthy-looking Spark
    # side — becomes impossible to commit).  Driver runs (non-record)
    # keep their headline but carry end_canary_ok=false for the judge.
    thr_end = box_health["threshold_sec"]
    end_pieces = perf_pieces(spark)
    for attempt in range(
        max(1, int(os.environ.get("SPARK_GRAFT_CANARY_TRIES", "5")))
    ):
        end_canary = round(
            min(_gen_share_once(spark, end_pieces) for _ in range(2)), 4
        )
        if end_canary <= thr_end:
            break
        print(
            f"end-of-run canary degraded: {end_canary:.2f}s > "
            f"{thr_end:.2f}s; waiting",
            file=sys.stderr,
        )
        time.sleep(float(os.environ.get("SPARK_GRAFT_CANARY_WAIT", "20")))
    box_health["gen_share_end_sec"] = end_canary
    box_health["end_canary_ok"] = end_canary <= thr_end
    _sh.rmtree(mf_dir, ignore_errors=True)
    if (
        os.environ.get("SPARK_GRAFT_RECORD_DETAIL") == "1"
        and not box_health["end_canary_ok"]
    ):
        raise SystemExit(
            f"bench record REFUSED: end-of-run canary {end_canary:.2f}s "
            f"exceeds threshold {thr_end:.2f}s — the window degraded "
            "mid-run, so the measured pair is not box-health-comparable. "
            "Re-run in a healthy window to commit a record."
        )

    total = round(sum(times.values()), 4)
    # Whole-surface constants accounting (r15, VERDICT r14 #2): the
    # query-surface raw total decomposed as (total jobs x measured
    # floor) + residual plan cost, with the arr_* workload (multi-job,
    # unadjusted by protocol) split out — the one-place decomposition
    # of the headline raw ratio.
    query_surface_total = round(
        sum(t for n, t in times.items() if not n.startswith("arr_")), 4
    )
    total_jobs = sum(jobs_per_query.values())
    headline_decomposition = {
        "query_surface_raw_sec": query_surface_total,
        "arr_workload_sec": round(total - query_surface_total, 4),
        "total_jobs": total_jobs,
        "jobs_x_floor_sec": round(total_jobs * floor, 4),
        "residual_plan_sec": round(
            query_surface_total - total_jobs * floor, 4
        ),
    }
    # The honest end-to-end number: measured query time PLUS the full
    # client-side plan-construction wall time (ADVICE r5 — keeps this
    # total comparable to prior rounds and to an end-to-end DuckDB
    # run, which pays its parse+bind inside its timings).
    total_with_build = round(total + build_sec, 4)
    total_floor_adjusted = round(
        sum(
            t if name.startswith("arr_") else max(0.0, t - floor)
            for name, t in times.items()
        ),
        4,
    )
    # The per-query map (80+ entries) outgrew the driver's tail-capture
    # window in r2 (BENCH_r02 "parsed": null) — emit it FIRST (its own
    # line, plus BENCH_DETAIL.json beside this script), and keep the
    # final line a compact headline the driver always parses whole.
    detail = {
        "queries": times,
        "sf": sf,
        "cpus": os.cpu_count(),
        "sched_floor_sec": round(floor, 4),
        "total_with_build": total_with_build,
        "total_floor_adjusted": total_floor_adjusted,
        "build_sec_total": build_sec,
        "concurrent8_wall_sec": concurrent8_sec,
        "concurrent8_runs": conc8_runs,
        "jobs_per_query": jobs_per_query,
        "headline_decomposition": headline_decomposition,
        "arr_scan_meta": arr_scan_meta,
        "box_health": box_health,
        "fixture": "mf16 (lineitem+orders+events split into 16 part "
                   "files; other tables symlinked to the sf dir)",
        "duckdb_same_session": (
            {
                "total": duck["total"],
                "concurrent8_wall_sec": duck["concurrent8_wall_sec"],
            }
            if duck
            else None
        ),
    }
    print(json.dumps(detail))
    # The committed BENCH_DETAIL.json is the builder's RECORD of a
    # chosen run; an ordinary (driver / debug) invocation must never
    # clobber it — r8's guard only covered non-default SFs, and the
    # driver's sf0.1 run still dirtied the committed blob (VERDICT r8
    # "What's wrong #1").  Default now writes the gitignored
    # BENCH_DETAIL_last{_sfX}.json; exporting
    # SPARK_GRAFT_RECORD_DETAIL=1 (builder, when committing a run)
    # writes the canonical name instead.
    record = os.environ.get("SPARK_GRAFT_RECORD_DETAIL") == "1"
    suffix = "" if sf == 0.1 else f"_sf{sf}"
    name = f"BENCH_DETAIL{suffix}.json" if record else \
        f"BENCH_DETAIL_last{suffix}.json"
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), name),
            "w",
        ) as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # detail file is best-effort; the printed lines stand alone
    print(
        json.dumps(
            {
                "metric": "declared_query_surface_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "n_queries": len(times),
                "total_with_build": total_with_build,
                "total_floor_adjusted": total_floor_adjusted,
                "sched_floor_sec": round(floor, 4),
                "build_sec_total": build_sec,
                "concurrent8_wall_sec": concurrent8_sec,
                "headline_decomposition": headline_decomposition,
                "duckdb_total_sec": duck["total"] if duck else None,
                "duckdb_concurrent8_sec": (
                    duck["concurrent8_wall_sec"] if duck else None
                ),
                "box_health": box_health,
                "fixture": "mf16",
            }
        )
    )


if __name__ == "__main__":
    main()
