"""Read path: pruned index scan → chunk join → executor-side decode/clip.

Mirrors the reference's ``stream``/``get-slice``
(/root/reference/src/io/mandoline/mandoline.clj:223-270) as one Spark
plan: the request slice becomes a per-dimension chunk-coordinate range
predicate on the index (the engine's partition pruning,
chunk.clj:11-25), the surviving index rows join the content-addressed
chunk store on hash, and a ``mapInPandas`` stage decodes each blob and
clips it to the request so only requested bytes ever reach the driver.
Chunk coordinates absent from the index read as fill
(impl.clj:221-223): ``get_slice`` allocates a fill-initialized result
and merges the returned pieces into it.

Reads whose touched chunks fit the driver anyway (small reads, full
scans, the box recursion of small strided reads) skip the decode stage
and paste raw blobs into the result on the driver.  When the
driver-tier gate ``Connection.driver_tier`` admits the store (local,
within ``Connection.index_map_max_entries`` index rows and
``Connection.blob_local_fetch_max_bytes`` of chunk table) those reads
resolve the index and fetch the blobs with pyarrow and launch no Spark
job at all — the default, read cache on or off.
``Connection.cache_reads`` only adds memoization on top (blob LRU,
index map, cached table DataFrames).  Other backends and over-cap
tables read the blobs through Spark.

Scale notes: the index is pruned before any IO (predicate on plain int
columns → Parquet row-group pruning); the chunks join is hash-equi and
broadcastable when the pruned slice is small; decode/clip runs in
executors so the driver only materializes the final requested
hyper-rectangle (which is the contract of ``get_slice``).  ``stream``
exposes the pieces as an iterator for callers that want to avoid even
that materialization.
"""

from __future__ import annotations

from typing import Any, Iterator, Mapping, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .core import chunk as ck
from .core import metadata as md
from .core import slab as sb
from .core import slice as sl
from .core.slab import Slab
from .core.slice import Slice
from .store import Connection


def pruned_index_df(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    request: Slice,
) -> DataFrame | None:
    """Index rows whose chunks overlap ``request`` (chunk pruning).
    Version fallback: a variable not written at this version reads the
    most recent committed index ≤ it (mem.clj:45-49)."""
    idx = conn.resolve_index_df(token["version-id"], var)
    if idx is None:
        return None
    if request.ndim == 0:
        return idx
    grid = md.get_chunk_grid_slice(token, var)
    cond = F.lit(True)
    # Strided requests prune on the exact per-dimension coordinate SET
    # when the stride skips whole chunks (step >= chunk length) — an
    # IN-list beside the BETWEEN, so a step>=chunk read decodes only
    # the chunks its lattice touches instead of the full bounding box.
    # Past the IN-list literal budget the set arrives as a ModSet and
    # renders as the O(1)-literal modular predicate (exact for
    # step > chunk; core/chunk.py), so large sparse reads keep full
    # pruning instead of falling off the r9 cliff to the box BETWEEN.
    for i, (lo, hi, vals) in enumerate(
        ck.chunk_coordinate_sets(request, grid)
    ):
        col = F.col(f"c{i}")
        if vals is None:
            cond = cond & col.between(lo, hi)
        elif isinstance(vals, ck.ModSet):
            cond = (
                cond
                & col.between(lo, hi)
                & (
                    F.pmod(
                        F.lit(vals.a) - col * F.lit(vals.c),
                        F.lit(vals.st),
                    )
                    < F.lit(vals.c)
                )
            )
        else:
            cond = cond & col.isin(*vals)
    return idx.filter(cond)


def _touched_chunks(
    token: Mapping[str, Any], var: str, request: Slice
) -> tuple[int, int]:
    """(overlapping chunk count, their total stored bytes) for a
    request — the single source for the decode-parallelism, small-read
    routing, and broadcast-bound heuristics (a divergent copy in one of
    them would silently mis-size the others)."""
    if request.ndim == 0:
        return 1, sb.as_dtype(md.get_type(token, var)).itemsize
    grid = md.get_chunk_grid_slice(token, var)
    n_coords = 1
    for lo, hi, vals in ck.chunk_coordinate_sets(request, grid):
        n_coords *= len(vals) if vals is not None else hi - lo + 1
    chunk_elems = 1
    for i in range(grid.ndim):
        chunk_elems *= grid.step[i]
    itemsize = sb.as_dtype(md.get_type(token, var)).itemsize
    return n_coords, n_coords * chunk_elems * itemsize


def _join_blobs(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    request: Slice,
    idx: DataFrame,
    chunks: DataFrame,
) -> DataFrame:
    """index ⋈ chunks with the BUILD SIDE PINNED to the pruned index.

    Left to statistics, the planner can pick the chunk table as the
    broadcast side: chunk blobs of regular data compress so well under
    zstd that a multi-hundred-MB table's on-disk footprint (what
    size-based join planning sees) drops below the 10 MB auto-broadcast
    threshold — and the "broadcast" then materializes the DECOMPRESSED
    blobs into one driver-built hash relation (observed 4-8x scan
    regressions, bimodal run to run as dedup nudged file sizes around
    the threshold).  The pruned index side is O(requested chunks) rows
    of coordinates+hash — the side you'd always build.  The hint is
    skipped for requests whose index rows would exceed a ~256 MB
    estimated hash relation (an explicit hint bypasses
    autoBroadcastJoinThreshold, so the bound must live here — ADVICE
    r4: the old flat 4M-row cutoff allowed multi-hundred-MB relations
    onto small drivers); those fall back to statistics, and at that
    scale the chunk table is far past any broadcast threshold anyway."""
    n_coords, _ = _touched_chunks(token, var, request)
    # Bytes per built hash-relation row, MEASURED rather than modeled
    # (ADVICE r5 asked for a sanity check of the old 4x-overhead
    # formula): the BroadcastExchangeExec dataSize metric for a real
    # 8,400-row 3-d pruned-index broadcast reports 8.65 MB ≈ 1030
    # bytes/row — the old formula's 256-272 UNDERestimated the built
    # relation ~4x, so its 256 MB "budget" actually admitted ~1 GB
    # relations.  1 KiB/row is the honest figure (UnsafeRow + hash-map
    # arrays dominate the 64-byte payload; ndim barely moves it).  The
    # byte budget is configurable per session
    # (spark.mandoline.broadcastIndexBudget, bytes): constrained
    # drivers shrink it, and the bimodal-regression workloads the hint
    # exists for can widen it explicitly instead of silently riding an
    # optimistic estimate.
    est_row_bytes = 1024
    if n_coords * est_row_bytes <= conn._bcast_budget():
        idx = F.broadcast(idx)
    return idx.join(chunks, idx.chunk_hash == chunks.hash, "inner")


def _decode_parallelism(
    conn: Connection, token: Mapping[str, Any], var: str, request: Slice
) -> int:
    """Task count for the Python decode stage, computed from the REQUEST
    (overlapping chunk count × chunk bytes) rather than inherited from
    the chunk table's file layout.  Without this, a scan whose parquet
    input collapses to few partitions (one big file, large
    maxPartitionBytes, AQE coalescing sized for JVM operators) would
    serialize the CPU-bound decode onto one worker.  Targets one task
    per ~128 MB of chunk data but never fewer than the cluster's core
    count while there are chunks to go around."""
    n_coords, total_bytes = _touched_chunks(token, var, request)
    cores = conn.spark.sparkContext.defaultParallelism
    return max(1, min(n_coords, max(cores, total_bytes // (128 << 20))))


def _pieces_df(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    request: Slice,
    lattice: Slice | None = None,
) -> DataFrame | None:
    """``lattice`` (a strided original request whose step-1 bounding
    box is ``request``) drives PRUNING and sizing; clipping stays on
    ``request`` — the box-recursion (small-read) shape, where the box
    buffer's untouched regions read as fill.

    A STRIDED ``request`` (step > 1, ``lattice`` None) instead makes
    the decode stage subsample each chunk to the request's lattice
    points (r9 verdict #5): pieces ship ~1/∏step of the bounding-box
    bytes, with ``pstart``/``pstop`` carrying the strided
    intersection's data coordinates (the step is the request's, known
    to the consumer).  The subsample is the CRT intersection
    (:func:`core.slice.get_intersection_general`) + one strided numpy
    view copy per chunk."""
    prune = lattice if lattice is not None else request
    idx = pruned_index_df(conn, token, var, prune)
    chunks = conn.chunks_df()
    if idx is None or chunks is None:
        return None
    ndim = request.ndim
    ccols = [f"c{i}" for i in range(ndim)]
    joined = _join_blobs(conn, token, var, prune, idx, chunks).select(
        *ccols, "blob"
    )
    if ndim:
        cores = conn.spark.sparkContext.defaultParallelism
        target = _decode_parallelism(conn, token, var, prune)
        # Only worth an exchange when the request is big enough to keep
        # every core busy — small slice reads run on their natural input
        # partitioning (the extra shuffle would dominate their runtime).
        # Same volume floor as _small_read_blobs_df (r11 review: the
        # gates had silently diverged): a many-chunk but SMALL read
        # satisfies target >= cores yet gains nothing from an exchange.
        _, touched_bytes = _touched_chunks(token, var, prune)
        if target >= cores and touched_bytes > _REBALANCE_MIN_BYTES:
            joined = joined.repartition(target, *ccols)
    type_name = md.get_type(token, var)
    grid = md.get_chunk_grid_slice(token, var)
    grid_tuple = (grid.start, grid.stop, grid.step)
    req_tuple = (request.start, request.stop, request.step)

    out_schema = (
        "pstart array<int>, pstop array<int>, data binary"
    )

    def decode_clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        req = Slice(*req_tuple)
        grid_s = Slice(*grid_tuple)
        strided = req.ndim > 0 and not sl.step_is_one(req)
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                coord = tuple(int(row[c]) for c in ccols)
                chunk_slice = ck.from_chunk_coordinate(grid_s, coord)
                slab = sb.from_bytes(bytes(row["blob"]), type_name, chunk_slice)
                if req.ndim == 0:
                    clipped = slab
                elif strided:
                    # lattice subsample: ship only the stride's points
                    inter = sl.get_intersection_general(slab.slice, req)
                    clipped = sb.Slab(
                        slab.data[sl.to_numpy_index(inter, slab.slice)],
                        inter,
                    )
                else:
                    clipped = sb.intersect(slab, req)
                out.append(
                    {
                        "pstart": list(clipped.slice.start),
                        "pstop": list(clipped.slice.stop),
                        "data": sb.to_bytes(clipped),
                    }
                )
            yield pd.DataFrame(
                out, columns=["pstart", "pstop", "data"]
            )

    return joined.mapInPandas(decode_clip, out_schema)


def _check_bounds(token: Mapping[str, Any], var: str, request: Slice) -> None:
    var_slice = md.get_var_slice(token, var)
    if request.ndim != var_slice.ndim:
        raise IndexError(
            f"request arity {request.ndim} != variable arity {var_slice.ndim}"
        )
    if request.ndim and not sl.contains(request, var_slice):
        raise IndexError(
            f"request {request} outside variable extent {var_slice}"
        )


def stream(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    request: Slice,
    check_bounds: bool = True,
) -> Iterator[Slab]:
    """Iterator of request-clipped slabs, one per stored overlapping
    chunk (mandoline.clj:223-258).  Absent chunks yield nothing — the
    caller supplies fill (``get_slice`` does).

    Validation runs EAGERLY at call time (same contract as
    ``get_slice``) — only the iteration itself is lazy; a generator
    all the way down would defer a bad-request error to the first
    ``next()``, possibly far from the call site."""
    if not sl.step_is_one(request):
        raise ValueError("read requests must have step=1")
    if check_bounds:
        _check_bounds(token, var, request)
    pieces = _pieces_df(conn, token, var, request)
    type_name = md.get_type(token, var)

    def _iter() -> Iterator[Slab]:
        if pieces is None:
            return
        for row in pieces.toLocalIterator():
            pslice = Slice(
                tuple(row["pstart"]),
                tuple(row["pstop"]),
                tuple(1 for _ in row["pstart"]),
            )
            yield sb.from_bytes(bytes(row["data"]), type_name, pslice)

    return _iter()


# Volume floor for the small-read rebalance: below this many touched
# bytes the exchange costs more latency than the skew it prevents.
_REBALANCE_MIN_BYTES = 64 << 20

# Small-read routing gate: at or below this many touched chunk bytes
# the driver collects raw blobs and decodes in-process (no mapInPandas
# stage, no Python-worker round trip).
_SMALL_READ_MAX_BYTES = 16 << 20


def _route_small(touched_bytes: int, requested_bytes: int) -> bool:
    """True when a read should take the driver-side small path: the
    touched volume fits comfortably anyway, or clipping/subsampling
    would strip less than half of it (the distributed decode only
    earns its shuffle + Arrow round-trip when it strips a lot).  ONE
    function for both the step-1 and strided gates so tests can
    monkeypatch it to force the distributed branch on small fixtures
    (the strided-lattice hypothesis roundtrip pins executor
    subsampling that way)."""
    return (
        touched_bytes <= _SMALL_READ_MAX_BYTES
        or 2 * requested_bytes >= touched_bytes
    )


def _small_read_blobs_df(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    request: Slice,
    touched_bytes: int,
) -> DataFrame | None:
    """(coords…, blob) Spark plan for the driver-side small-read path
    when the blobs cannot be read on the driver directly (non-local
    backend, over-cap index or chunk table), or None when the variable
    has no stored chunks.

    Rebalances DECOMPRESSED bytes before the Arrow conversion — the
    same guard :func:`_pieces_df` applies to its decode stage.  Scan
    splits are packed by ON-DISK file size, and regular array data
    compresses 100-1000x under zstd, so a large read's conversion work
    can land on one task (measured on the 8,400-chunk perf-shape full
    scan: 82% of rows in one split; toArrow 3.0 s skewed vs 0.85 s
    after repartition(32) INCLUDING the 412 MiB exchange).  Small
    reads keep their natural partitioning — the exchange would
    dominate their runtime — with a volume floor on top of the
    task-count guard: a many-chunk but small read (e.g. 64 tiny
    chunks) satisfies target >= cores yet gains nothing from an
    exchange."""
    idx = pruned_index_df(conn, token, var, request)
    if idx is None:
        return None
    chunks = conn.chunks_df()
    if chunks is None:
        return None
    ccols = [f"c{i}" for i in range(request.ndim)]
    blobs_df = _join_blobs(conn, token, var, request, idx, chunks).select(
        *ccols, "blob"
    )
    cores = conn.spark.sparkContext.defaultParallelism
    target = _decode_parallelism(conn, token, var, request)
    if target >= cores and touched_bytes > _REBALANCE_MIN_BYTES:
        blobs_df = blobs_df.repartition(target, *ccols)
    return blobs_df


def get_slice(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    request: Slice,
    check_bounds: bool = True,
    *,
    _lattice: Slice | None = None,
) -> Slab:
    """Materialize ``request``: fill-initialized slab + merge of all
    stored pieces (mandoline.clj:260-270).

    Strided requests (step>1): the chunk fetch is pruned to the chunks
    the stride LATTICE actually touches — the capability the reference
    designed at slice.clj:81-102 but never shipped (stride tests are
    ``future-fact`` in test/slice_test.clj).  Small reads (the
    small-read byte gate below) materialize the step-1 bounding box
    and subsample driver-side — the raw blobs are fetched whole either
    way, so there is nothing to strip before the driver.  Larger reads
    take the distributed decode, whose executors subsample each chunk
    to the lattice BEFORE shipping (r9 verdict #5): the Arrow transfer
    carries ~1/∏step of the box bytes, and the driver pastes the
    strided pieces straight into the lattice-shaped result — the box
    buffer never exists."""
    if not sl.step_is_one(request):
        if any(s < 1 for s in request.step):
            raise ValueError(f"steps must be >= 1: {request}")
        if check_bounds:
            _check_bounds(token, var, request)
        _, touched_bytes = _touched_chunks(token, var, request)
        itemsize = sb.as_dtype(md.get_type(token, var)).itemsize
        lattice_bytes = sl.num_elements(request) * itemsize
        if _route_small(touched_bytes, lattice_bytes):
            # small (or barely-stripping) read: box recursion, driver
            # subsample — same routing rationale as the step-1 gate
            box = sl.Slice(
                request.start, request.stop, tuple(1 for _ in request.step)
            )
            full = get_slice(
                conn, token, var, box, False, _lattice=request
            )
            return sb.Slab(
                full.data[sl.to_numpy_index(request, box)].copy(), request
            )
        result = sb.empty(
            md.get_type(token, var), request, md.get_fill(token, var)
        )
        pieces = _pieces_df(conn, token, var, request)
        if pieces is None:
            return result
        ptbl = pieces.select("pstart", "pstop", "data").toArrow()
        le_dtype = sb.as_dtype(md.get_type(token, var)).newbyteorder("<")
        import numpy as np

        starts = ptbl.column("pstart").to_pylist()
        stops = ptbl.column("pstop").to_pylist()
        row_i = 0
        for arr_chunk in ptbl.column("data").chunks:
            for k in range(len(arr_chunk)):
                pslice = Slice(
                    tuple(starts[row_i]),
                    tuple(stops[row_i]),
                    request.step,
                )
                row_i += 1
                arr = np.frombuffer(
                    arr_chunk[k].as_buffer(), dtype=le_dtype
                ).reshape(sl.get_shape(pslice))
                result.data[sl.to_lattice_index(pslice, request)] = arr
        return result
    if check_bounds:
        _check_bounds(token, var, request)
    result = sb.empty(
        md.get_type(token, var), request, md.get_fill(token, var)
    )
    type_name = md.get_type(token, var)
    prune = _lattice if _lattice is not None else request

    # Small-read fast path: when the requested chunk bytes fit the
    # driver comfortably anyway, collect the raw blobs and decode/clip
    # in-process — this drops the mapInPandas stage (and its per-job
    # Python-worker round trip, ~100-200 ms) from every small slice
    # read, the latency-critical pattern of repeated point/slab lookups
    # (the workload the reference's chunk cache exists for).
    grid = md.get_chunk_grid_slice(token, var)
    csets = (
        ck.chunk_coordinate_sets(prune, grid) if request.ndim else []
    )
    _, touched_bytes = _touched_chunks(token, var, prune)
    itemsize = sb.as_dtype(type_name).itemsize
    requested_bytes = sl.num_elements(request) * itemsize
    # Driver-side decode also wins whenever clipping would discard
    # little: get_slice materializes the result on the driver either
    # way, so the executor decode stage only earns its shuffle + Arrow
    # round-trip when it strips a large fraction of the touched bytes
    # (partial chunk overlap).  A full scan strips nothing — routing it
    # through mapInPandas moves the same bytes twice.
    small = request.ndim > 0 and _route_small(
        touched_bytes, requested_bytes
    )
    if small:
        # Direct chunk paste: the driver loop is the serial tail of
        # every small/full read, and per-chunk Slab/Slice construction
        # (intersect → merge → to_numpy_index tuple machinery) measured
        # ~0.5 s of the perf-shape full scan's ~1.0 s Python loop
        # (cProfile, 8,400 chunks).  Base chunks are stored FULL
        # chunk-grid size (fill beyond the extent — chunk.clj:27-33),
        # so a stored blob of exactly chunk-size bytes pastes as a
        # reshaped view with three max/min clips; any other size is
        # corruption and fails loud (blobs carry no geometry).
        import numpy as np

        le_dtype = sb.as_dtype(type_name).newbyteorder("<")
        cdims = grid.step
        chunk_nbytes = le_dtype.itemsize
        for c in cdims:
            chunk_nbytes *= c
        rstart, rstop = request.start, request.stop

        def _paste(coord: tuple, buf) -> None:
            if len(buf) != chunk_nbytes:
                # A stored blob is ALWAYS the full chunk-grid slice
                # (fill beyond the extent — chunk.clj:27-33); the bytes
                # carry no geometry of their own, so a size mismatch
                # cannot be merged, only reported.  (The previous
                # "fall back to the general slab merge" here reshaped
                # the short buffer to the full chunk shape and raised
                # an opaque numpy error — r11 review.)
                raise ValueError(
                    f"chunk blob at coordinate {coord} is "
                    f"{len(buf)} bytes; expected the full chunk size "
                    f"{chunk_nbytes} (truncated or corrupt chunk "
                    "store entry)"
                )
            dst, src = [], []
            for k, c, rs, re_ in zip(coord, cdims, rstart, rstop):
                s = k * c
                lo = s if s > rs else rs
                hi = s + c if s + c < re_ else re_
                if lo >= hi:
                    return
                dst.append(slice(lo - rs, hi - rs))
                src.append(slice(lo - s, hi - s))
            view = np.frombuffer(buf, dtype=le_dtype).reshape(cdims)
            result.data[tuple(dst)] = view[tuple(src)]

        # driver tier: on a local store within the driver caps the
        # index and blobs are read with pyarrow — ZERO Spark jobs, cache
        # on or off; cache_reads adds the reference's read-wrapper
        # stack (CachingChunkStore + read-only index cache), so warm
        # chunks skip even the file reads.  None from either call sends
        # the read to the Spark plan below.  Without the cache the
        # chunk half of the gate is asked ONCE, before the index map
        # (a map is wasted work when the blobs cannot follow it), and
        # its files serve the blob fetch.
        files = None if conn.cache_reads else conn._local_chunk_files()
        imap = (
            conn.index_map(
                token["version-id"], var, [(lo, hi) for lo, hi, _ in csets]
            )
            if conn.cache_reads or files is not None
            else None
        )
        if imap is not None:
            import itertools

            coords = [
                c
                for c in itertools.product(
                    *[
                        vals if vals is not None else range(lo, hi + 1)
                        for lo, hi, vals in csets
                    ]
                )
                if c in imap
            ]
            blobs = conn.blobs_for([imap[c] for c in coords], files)
            if blobs is not None:
                for c in coords:
                    _paste(c, blobs[imap[c]])
                return result
        blobs_df = _small_read_blobs_df(
            conn, token, var, prune, touched_bytes
        )
        if blobs_df is None:
            return result
        ccols = [f"c{i}" for i in range(request.ndim)]
        # toArrow, not toPandas/collect: the blob column stays in raw
        # Arrow buffers end-to-end — decode is a zero-copy
        # frombuffer per blob instead of materializing a Python bytes
        # object per chunk (412 MiB perf-shape full scan: collect phase
        # 1.3 s vs 2-5 s via pandas, and ~half the peak driver
        # allocations, which is what the GC variance fed on)
        tbl = blobs_df.toArrow()
        coord_cols = [tbl.column(c).to_numpy() for c in ccols]
        row_i = 0
        for arr_chunk in tbl.column("blob").chunks:
            for k in range(len(arr_chunk)):
                coord = tuple(int(cc[row_i]) for cc in coord_cols)
                row_i += 1
                # pyarrow Buffer feeds np.frombuffer zero-copy
                _paste(coord, arr_chunk[k].as_buffer())
        return result

    pieces = _pieces_df(conn, token, var, request, lattice=_lattice)
    if pieces is None:
        return result
    # one job; the pieces are already clipped to the request so this
    # materializes exactly the requested bytes (raw-Arrow-buffer
    # transport — see the small-path note above)
    ptbl = pieces.select("pstart", "pstop", "data").toArrow()
    starts = ptbl.column("pstart").to_pylist()
    stops = ptbl.column("pstop").to_pylist()
    row_i = 0
    for arr_chunk in ptbl.column("data").chunks:
        for k in range(len(arr_chunk)):
            pslice = Slice(
                tuple(int(x) for x in starts[row_i]),
                tuple(int(x) for x in stops[row_i]),
                tuple(1 for _ in starts[row_i]),
            )
            row_i += 1
            sb.merge(
                result,
                sb.from_bytes(
                    arr_chunk[k].as_buffer(), type_name, pslice, copy=False
                ),
            )
    return result


_CELL_SPARK_TYPES = {
    "byte": "tinyint",
    "char": "int",  # UTF-16 code unit
    "short": "smallint",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
}


def cells_df(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    request: Slice | None = None,
) -> DataFrame:
    """The exploded cell view (SURVEY §1.4): one row per coordinate of
    ``var`` within ``request`` (default: full extent) with its value —
    fill where unwritten.  This is the bridge from the array store to
    the relational surface: register it and join/aggregate cells with
    ordinary Spark SQL.

    Fully distributed: the chunk-coordinate grid is generated with
    ``sequence``/``explode``, left-joined to the (pruned) index and the
    chunk store, and a ``mapInPandas`` stage decodes or synthesizes each
    chunk and emits its cells cropped to the variable extent.  Row
    volume is O(cells in request); nothing funnels through the driver.
    """
    import itertools

    spark = conn.spark
    var_slice = md.get_var_slice(token, var)
    ndim = var_slice.ndim
    if request is None:
        request = var_slice
    _check_bounds(token, var, request)
    if not sl.step_is_one(request):
        raise ValueError("cells_df requires a step=1 request")
    grid = md.get_chunk_grid_slice(token, var)
    type_name = md.get_type(token, var)
    fill = md.get_fill(token, var)
    ccols = [f"c{i}" for i in range(ndim)]

    if ndim == 0:
        slab = get_slice(conn, token, var, request)
        return spark.createDataFrame(
            [(slab.data[()].item(),)], f"value {_CELL_SPARK_TYPES[type_name]}"
        )

    # full chunk-coordinate grid covering the request
    ranges = ck.chunk_coordinate_ranges(request, grid)
    coords = spark.range(1).select(
        *[F.lit(None).alias("_x")]
    )
    for i, (lo, hi) in enumerate(ranges):
        coords = coords.select(
            *[c for c in coords.columns if c != "_x"],
            F.explode(F.sequence(F.lit(lo), F.lit(hi))).alias(ccols[i]),
        )
    coords = coords.select(*ccols)

    # pruned to the request's chunk ranges (the BETWEEN predicates
    # reach the index parquet scan) — the plain resolved index paid a
    # full index scan per action on request-scoped cell views (r11
    # review); the coords equi-join alone pushes nothing down
    idx = pruned_index_df(conn, token, var, request)
    chunks = conn.chunks_df()
    if idx is not None and chunks is not None:
        joined = coords.join(idx.select(*ccols, "chunk_hash"), ccols, "left")
        # shuffle_hash on the blob side: see _join_blobs — a
        # well-compressed chunk table's on-disk size can fall under the
        # auto-broadcast threshold, and the "small" broadcast would
        # materialize the decompressed blobs driver-side
        joined = joined.join(
            chunks.select(F.col("hash").alias("chunk_hash"), "blob")
            .hint("shuffle_hash"),
            "chunk_hash",
            "left",
        ).select(*ccols, "blob")
    else:
        joined = coords.withColumn("blob", F.lit(None).cast("binary"))

    grid_tuple = (grid.start, grid.stop, grid.step)
    req_tuple = (request.start, request.stop, request.step)
    dim_names = [f"dim{i}" for i in range(ndim)]
    out_schema = ", ".join(
        [f"{d} int" for d in dim_names]
        + [f"value {_CELL_SPARK_TYPES[type_name]}"]
    )

    def emit_cells(batches):
        import numpy as np

        req = Slice(*req_tuple)
        grid_s = Slice(*grid_tuple)
        for pdf in batches:
            frames = []
            for _, row in pdf.iterrows():
                coord = tuple(int(row[c]) for c in ccols)
                chunk_slice = ck.from_chunk_coordinate(grid_s, coord)
                if row["blob"] is not None:
                    slab = sb.from_bytes(
                        bytes(row["blob"]), type_name, chunk_slice
                    )
                else:
                    slab = sb.empty(type_name, chunk_slice, fill)
                clipped = sb.intersect(slab, req)
                s = clipped.slice
                mesh = np.meshgrid(
                    *[np.arange(a, b) for a, b in zip(s.start, s.stop)],
                    indexing="ij",
                )
                frame = {
                    d: mesh[i].ravel().astype("int32")
                    for i, d in enumerate(dim_names)
                }
                frame["value"] = clipped.data.ravel()
                frames.append(pd.DataFrame(frame))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return joined.mapInPandas(emit_cells, out_schema)


def changed_chunks_df(
    conn: Connection,
    token_a: Mapping[str, Any],
    token_b: Mapping[str, Any],
    var: str,
) -> DataFrame:
    """Chunk coordinates whose CONTENT differs between two committed
    versions, found without decoding anything: content addressing means
    a chunk changed iff its index hash changed, so a full-outer join of
    the two version-pinned indexes on (c0..cK) with a null-safe hash
    inequality prunes every unchanged chunk — the vast majority of a
    large dataset — at index scan cost, O(chunks), not O(cells).
    Returns (c0..cK, hash_a, hash_b); a NULL hash means that version
    never wrote the chunk (its cells read as fill).

    Reference semantics: overwrite versioning, where an untouched chunk
    is carried forward by hash (test/overwrite.clj:52-64) — the carry
    is exactly what makes the hash equality test sufficient."""
    ndim = md.get_var_slice(token_a, var).ndim
    ccols = [f"c{i}" for i in range(ndim)]
    idx_a = conn.resolve_index_df(token_a["version-id"], var)
    idx_b = conn.resolve_index_df(token_b["version-id"], var)
    spark = conn.spark

    def side(idx: DataFrame | None, alias: str) -> DataFrame:
        if idx is None:
            schema = ", ".join(
                [f"{c} int" for c in ccols] + [f"{alias} string"]
            )
            return spark.createDataFrame([], schema)
        return idx.select(*ccols, F.col("chunk_hash").alias(alias))

    both = side(idx_a, "hash_a").join(side(idx_b, "hash_b"), ccols, "full")
    return both.filter(~F.col("hash_a").eqNullSafe(F.col("hash_b")))


def diff_cells_df(
    conn: Connection,
    token_a: Mapping[str, Any],
    token_b: Mapping[str, Any],
    var: str,
) -> DataFrame:
    """Cell-level version diff: (dim0..dimK, value_a, value_b) for every
    cell whose value differs between the two versions.  The scale shape
    is :func:`changed_chunks_df` first — only chunks whose index hash
    changed are fetched and decoded, so the cell-emitting stage's input
    is O(changed chunks) while the result stays exactly the diff of the
    two full cell views.  (For float variables, NaN→NaN counts as
    unchanged; the fill value stands in for never-written chunks.)"""
    va = md.get_var_slice(token_a, var)
    if va != md.get_var_slice(token_b, var):
        raise ValueError(
            "diff_cells_df requires identical variable extents; read the "
            "two cell views and join for shape-changing diffs"
        )
    ndim = va.ndim
    ccols = [f"c{i}" for i in range(ndim)]
    changed = changed_chunks_df(conn, token_a, token_b, var)
    chunks = conn.chunks_df()
    if chunks is None:
        # no chunk data at all: both versions are pure fill, no diffs
        # (changed is necessarily empty too)
        chunks = conn.spark.createDataFrame([], "hash string, blob binary")
    for alias in ("a", "b"):
        # shuffle_hash: same decompressed-broadcast guard as cells_df
        changed = changed.join(
            chunks.select(
                F.col("hash").alias(f"hash_{alias}"),
                F.col("blob").alias(f"blob_{alias}"),
            ).hint("shuffle_hash"),
            f"hash_{alias}",
            "left",
        )
    changed = changed.select(*ccols, "blob_a", "blob_b")

    grid = md.get_chunk_grid_slice(token_a, var)
    type_name = md.get_type(token_a, var)
    fill = md.get_fill(token_a, var)
    grid_tuple = (grid.start, grid.stop, grid.step)
    var_tuple = (va.start, va.stop, va.step)
    dim_names = [f"dim{i}" for i in range(ndim)]
    vtype = _CELL_SPARK_TYPES[type_name]
    out_schema = ", ".join(
        [f"{d} int" for d in dim_names]
        + [f"value_a {vtype}", f"value_b {vtype}"]
    )

    def emit_diffs(batches):
        import numpy as np

        extent = Slice(*var_tuple)
        grid_s = Slice(*grid_tuple)
        for pdf in batches:
            frames = []
            for _, row in pdf.iterrows():
                coord = tuple(int(row[c]) for c in ccols)
                chunk_slice = ck.from_chunk_coordinate(grid_s, coord)

                def load_side(blob):
                    if blob is None:
                        return sb.empty(type_name, chunk_slice, fill)
                    return sb.from_bytes(bytes(blob), type_name, chunk_slice)

                slab_a = sb.intersect(load_side(row["blob_a"]), extent)
                slab_b = sb.intersect(load_side(row["blob_b"]), extent)
                a, b = slab_a.data, slab_b.data
                neq = a != b
                if a.dtype.kind == "f":
                    neq &= ~(np.isnan(a) & np.isnan(b))
                if not neq.any():
                    continue  # hash differs but values tie (e.g. fill)
                s = slab_a.slice
                mesh = np.meshgrid(
                    *[np.arange(lo, hi) for lo, hi in zip(s.start, s.stop)],
                    indexing="ij",
                )
                frame = {
                    d: mesh[i][neq].astype("int32")
                    for i, d in enumerate(dim_names)
                }
                frame["value_a"] = a[neq]
                frame["value_b"] = b[neq]
                frames.append(pd.DataFrame(frame))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return changed.mapInPandas(emit_diffs, out_schema)


def on_version(conn: Connection, version: int) -> dict:
    """Reader token pinned to a committed version (mandoline.clj:117-122)."""
    return conn.metadata(version) | {"version-id": version}


def on_nth_version(conn: Connection, n: int) -> dict:
    return on_version(conn, conn.nth_version(n))


def on_timestamp(conn: Connection, ts_millis: int) -> dict:
    return on_version(conn, conn.timestamp_to_version(ts_millis))


def on_last_version(conn: Connection) -> dict:
    last = conn.last_version()
    if last is None:
        raise ValueError("dataset has no committed versions")
    return on_version(conn, last)


def register_cells_views(
    conn: Connection,
    token: Mapping[str, Any],
    vars: Sequence[str] | None = None,
    prefix: str = "cells_",
) -> list[str]:
    """Register each variable's exploded cell view as a temp view
    ``<prefix><var>`` so plain ``spark.sql`` can join/aggregate array
    cells against relational tables — the full §1.4 bridge.

    Views are lazy plans over the version pinned by ``token``: queries
    against them keep reading that version (time travel by view), and
    Catalyst prunes/pushes into the underlying index scan as usual.
    The generic ``dimK`` cell columns are exposed under the variable's
    REAL dimension names (``x``, ``time``, …) so SQL joins read
    naturally.  Returns the registered view names."""
    names = []
    for var in (
        vars if vars is not None else sorted(token["variables"])
    ):
        name = f"{prefix}{var}"
        df = cells_df(conn, token, var)
        dims = md.get_variable_dimensions(token, var)
        df = df.select(
            *[
                F.col(f"dim{i}").alias(d)
                for i, d in enumerate(dims)
            ],
            "value",
        )
        df.createOrReplaceTempView(name)
        names.append(name)
    return names
