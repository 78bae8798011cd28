"""Write path: slabs → committed chunks + an index generation.

The reference writes each slab by exploding it into per-chunk pieces and
running a CAS retry loop per chunk coordinate
(impl.clj:246-308).  Both write tiers
here drop the CAS loop: all pieces for one chunk coordinate are merged
together in slab order onto the base chunk (current version's, else
parent's, else a fill-valued blank — impl.clj:232-244 semantics) by one
per-chunk kernel (:func:`_merge_chunk`), the result is content-addressed
with SHA-1, and only previously-unseen blobs are appended.

- **Driver tier** (:func:`_driver_write`): delta commits (and full
  commits with no base) of driver-resident slabs on a LOCAL store whose
  index and chunk table fit the read tier's driver caps are merged,
  deduplicated and appended with numpy + pyarrow on the driver — zero
  Spark jobs, like the reference's client-side write.
- **Spark tier** (:func:`write_pieces`, :func:`ingest_aligned`): pieces
  from any Spark computation, full commits onto a base (the carry of
  untouched entries), remote/in-memory stores, over-cap tables and
  masked bases.  One ``groupBy(coord)`` task merges each chunk.

Both tiers commit the index generation through one claim → markers →
rows → seal protocol (:func:`_commit_generation`).

Scale notes:
- The Spark tier's shuffle key is the chunk coordinate, so write
  parallelism is O(chunks touched) and each task holds exactly one
  chunk (~50 KiB at the reference's perf shape) plus its pieces.
- Chunk dedup is an anti-join of the (small) batch of new hashes
  against the store's hash column; duplicate appends would be harmless
  anyway (identical content under the same hash), so a lost race
  between concurrent jobs costs storage, not correctness.
- A ``full`` index generation is O(chunk-count) rows of
  (coord, 40-byte hash); ``index_mode="delta"`` writes only the touched
  coordinates and compaction bounds the overlay chain.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Mapping, Sequence

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row, functions as F, types as T

from .core import chunk as ck
from .core import metadata as md
from .core import slab as sb
from .core import slice as sl
from .core.slab import Slab
from .core.slice import Slice
from . import fs as fsmod
from .store import (
    _SPARK_RESOLVE,
    CHUNK_SCHEMA,
    Connection,
    _coord_cols,
    _index_gen_schema,
    _local_parquet_files,
    index_schema,
)


class ConcurrentWriteError(RuntimeError):
    """A full-mode index commit detected another writer's generation
    claim/commit landing after its base snapshot — committing would
    silently drop rows under newest-full-wins resolution.

    Remedies, in order: (1) retry with ``index_mode="delta"`` — deltas
    overlay, so they are safe no matter what the other claim turns out
    to be (a live writer mid-commit or a crashed one's husk); (2) if
    the other generation has committed parquet, a plain retry carries
    the newer base; (3) if it is a CLAIM-ONLY directory from a writer
    known to be dead, :func:`release_claim` removes it — full-mode
    commits stay blocked until then, deliberately, because a claim
    cannot be distinguished from a live writer about to append."""


def _ckey(coord: Sequence[int]) -> str:
    return "_".join(str(c) for c in coord)


# Written-box mask column type: the sub-slices (absolute data
# coordinates, step-1) a concurrency-detected delta generation actually
# wrote inside each chunk, as a FLAT int array — boxes of 2*ndim ints
# each (start coords then stop coords).  Null ⇔ wholesale (the row's
# blob is the chunk's complete content relative to everything below
# it) — the shape of every generation written before masks existed, so
# old and new index files mix freely.  Flat ints rather than nested
# structs deliberately: array<struct<array,array>> nested inside the
# layer struct segfaults pyarrow's arrow_to_pandas at the mapInPandas
# boundary (observed on pyspark 4.1 / pyarrow in this container),
# while array<int> inside a struct is the long-proven _ps shape.
_WB_TYPE = "array<int>"


def _gen_masked(conn: Connection, vid: int, var: str, gen: int) -> bool:
    """True when the index generation carries cross-writer masks (a
    ``_MASKED`` marker beside its parquet — underscore-prefixed, so
    Parquet readers and ``_has_parquet`` ignore it)."""
    return conn.fs.exists(
        os.path.join(conn.index_path(vid, var, gen), "_MASKED")
    )


def _norm_wb(df: DataFrame) -> DataFrame:
    """Ensure the ``wb`` mask column exists (null = wholesale) on an
    index generation read — pre-mask generations lack it entirely."""
    if "wb" not in df.columns:
        df = df.withColumn("wb", F.lit(None).cast(_WB_TYPE))
    return df


def _apply_layers(layers, type_name: str, chunk_slice: Slice, fill) -> Slab:
    """Fold an ascending stack of (lyr, wb, blob) index layers into one
    chunk slab — the cell-level merge the reference performs eagerly in
    its per-chunk ``update-chunk!`` CAS loop (impl.clj:246-278), here
    driven by index metadata instead: a wholesale layer (wb null)
    REPLACES the accumulated content (its blob was merged onto
    everything below it when written); a masked layer contributes only
    its written boxes, preserving the cells a concurrent writer put in
    the same chunk.  Layers may arrive as pandas/arrow structs
    (dicts)."""
    nd = chunk_slice.ndim
    slab: Slab | None = None
    for L in sorted(layers, key=lambda x: int(x["lyr"])):
        blob = bytes(L["blob"])
        wb = L["wb"]
        if wb is None or nd == 0:
            # wholesale (or 0-dim, where any write covers the cell)
            slab = sb.from_bytes(blob, type_name, chunk_slice)
        else:
            if slab is None:
                slab = sb.empty(type_name, chunk_slice, fill)
            lay = sb.from_bytes(blob, type_name, chunk_slice, copy=False)
            w = [int(x) for x in wb]
            for j in range(0, len(w), 2 * nd):
                bs = Slice(
                    tuple(w[j : j + nd]),
                    tuple(w[j + nd : j + 2 * nd]),
                    tuple(1 for _ in range(nd)),
                )
                sb.copy_into(sb.subset(lay, bs), slab)
    if slab is None:
        slab = sb.empty(type_name, chunk_slice, fill)
    return slab


def _merge_chunk(
    type_name: str, fill, chunk_slice: Slice, layers, pieces
) -> tuple[str, bytes]:
    """One chunk's read-modify-write, the kernel of every write path:
    fold the base ``layers`` (:func:`_apply_layers`; None or empty = a
    fill-valued blank), then paste the ord-sorted ``pieces`` —
    (pstart, pstop, data) each — over it.  Returns the chunk's
    (SHA-1 content id, canonical bytes)."""
    if isinstance(layers, (list, np.ndarray)) and len(layers):
        slab = _apply_layers(layers, type_name, chunk_slice, fill)
    else:
        slab = sb.empty(type_name, chunk_slice, fill)
    for pstart, pstop, data in pieces:
        pslice = Slice(
            tuple(int(x) for x in pstart),
            tuple(int(x) for x in pstop),
            tuple(1 for _ in pstart),
        )
        sb.copy_into(sb.from_bytes(data, type_name, pslice, copy=False), slab)
    return ck.generate_id(slab), sb.to_bytes(slab)


def piece_schema(ndim: int) -> T.StructType:
    """Schema of the exploded per-chunk piece rows."""
    fields = [T.StructField("ckey", T.StringType(), False)]
    fields += [T.StructField(c, T.IntegerType(), False) for c in _coord_cols(ndim)]
    fields += [
        T.StructField("ord", T.LongType(), False),
        T.StructField("pstart", T.ArrayType(T.IntegerType()), False),
        T.StructField("pstop", T.ArrayType(T.IntegerType()), False),
        T.StructField("data", T.BinaryType(), False),
    ]
    return T.StructType(fields)


def slabs_to_piece_rows(
    token: Mapping[str, Any], var: str, slabs: Iterable[Slab], ord_base: int = 0
) -> list[Row]:
    """Explode driver-side slabs into per-chunk piece rows.

    ``ord`` is the global last-writer-wins order (slab sequence order,
    slab.clj:115-121).  Pieces carry only the bytes that land in their
    chunk, so total shipped bytes ≈ total written bytes.
    """
    grid = md.get_chunk_grid_slice(token, var)
    var_slice = md.get_var_slice(token, var)
    dtype = sb.as_dtype(md.get_type(token, var))
    rows = []
    for i, slab in enumerate(slabs):
        if slab.data.dtype != dtype:
            raise ValueError(
                f"slab dtype {slab.data.dtype} != variable dtype {dtype}"
            )
        if not sl.step_is_one(slab.slice):
            raise ValueError("write slabs must have step=1")
        if not sl.contains(slab.slice, var_slice):
            raise IndexError(
                f"slab {slab.slice} outside variable extent {var_slice}"
            )
        for coord in ck.to_chunk_coordinates(slab.slice, grid):
            chunk_slice = ck.from_chunk_coordinate(grid, coord)
            if slab.slice.ndim == 0:
                piece = slab
                inter = slab.slice
            else:
                inter = sl.get_intersection(slab.slice, chunk_slice)
                piece = sb.subset(slab, inter)
            rows.append(
                Row(
                    _ckey(coord),
                    *[int(c) for c in coord],
                    ord_base + i,
                    list(inter.start),
                    list(inter.stop),
                    sb.to_bytes(piece),
                )
            )
    return rows


def _base_index_df(
    conn: Connection, token: Mapping[str, Any], var: str
) -> DataFrame | None:
    """Base for read-modify-write: this in-flight version's own index if
    a prior write job left one, else the nearest committed ancestor's
    (impl.clj:232-244 precedence + the mem.clj:45-49 version fallback —
    the parent version itself may never have written this variable)."""
    vid = token["version-id"]
    own = conn.index_df(vid, var)
    if own is not None:
        return own
    parent = token.get("parent")
    if parent is not None:
        return conn.resolve_index_df(parent, var)
    return None


def _index_rows_bound(
    conn: Connection, version: int, var: str
) -> int | None:
    """Upper bound on the resolved (version, var) index row count from
    parquet FOOTERS — catalog metadata, zero Spark jobs (the same
    footer walk the local index-map scale guard uses).  The touched
    base rows are a subset of the resolved index, so a bound within
    the broadcast budget proves the streamed-scan attach safe without
    paying an exact count job.  None when unavailable (non-local fs,
    no index anywhere)."""
    if not isinstance(conn.fs, fsmod.LocalFS):
        return None
    plan = conn._local_index_plan(version, var)
    if not plan:
        return None
    total = 0
    try:
        for v, g in plan:
            d = conn.index_path(v, var, g)
            total += _footer_rows(
                os.path.join(d, fn)
                for fn in conn.fs.listdir(d)
                if fn.endswith(".parquet")
            )
    except OSError:
        return None
    return total


def _grid_shape(grid: Slice) -> list[int]:
    """Chunks per dimension of a chunk grid (an edge chunk counts
    whole)."""
    return [
        -(-(hi - lo) // st)
        for lo, hi, st in zip(grid.start, grid.stop, grid.step)
    ]


def _footer_rows(files: Iterable[str]) -> int:
    """Summed row counts of local parquet files, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _bcast_budget(conn: Connection) -> int:
    """Session broadcast budget in bytes
    (``spark.mandoline.broadcastIndexBudget``; shared convention with
    reader._join_blobs — an explicit broadcast bypasses
    autoBroadcastJoinThreshold, so the bound must live with the
    hint)."""
    try:
        return int(
            conn.spark.conf.get(
                "spark.mandoline.broadcastIndexBudget", str(256 << 20)
            )
        )
    except ValueError:
        return 256 << 20


def _touched_base_blobs(
    conn: Connection,
    chunks: DataFrame,
    base_rows: DataFrame,
    n_rows: int,
) -> DataFrame:
    """(ckey, _base) blob attachment for the touched base-index rows
    ``base_rows`` (columns: ckey, _bhash), with the chunk table
    STREAMED rather than exchanged: within the session's broadcast
    budget (``spark.mandoline.broadcastIndexBudget``, the read path's
    measured ~1 KiB-per-built-row convention — reader._join_blobs) the
    wanted-hash set and then the touched rows broadcast, so the only
    blob bytes that cross an exchange are the touched chunks' own.
    Before this, the read-modify-write attach shuffle-hash-joined the
    ENTIRE chunk table per write job — a one-chunk partial write into
    a petabyte store shuffled every blob (r11 review).  Past the
    budget (a write touching >~256k chunks): the shuffled-hash
    fallback, which keeps blob hash maps partition-sized — never
    broadcast the BLOB side; its on-disk size is the zstd-compressed
    footprint, and a "small" broadcast would materialize the
    decompressed blobs in one driver-built relation."""
    blob_src = chunks.select(
        F.col("hash").alias("_bhash"), F.col("blob").alias("_base")
    )
    # ~1 KiB per built hash-relation row, the read path's measured
    # convention (reader._join_blobs)
    if n_rows * 1024 <= _bcast_budget(conn):
        # one broadcast does prune AND attach: the streamed chunk scan
        # probes the touched-rows hash relation, non-matching blobs
        # never leave their scan task, matching ones pick up their
        # ckey(s) in place.  inner: a base hash missing from the chunk
        # store resolves to no row, and the caller's left join yields a
        # null base — the same fill-base semantics the old left join
        # produced
        return blob_src.join(
            F.broadcast(base_rows), "_bhash", "inner"
        ).select("ckey", "_base")
    return base_rows.join(
        blob_src.hint("shuffle_hash"), "_bhash", "left"
    ).select("ckey", "_base")


def _slabs_are_aligned(
    token: Mapping[str, Any], var: str, slabs: Sequence[Slab]
) -> bool:
    """True iff every slab tiles whole (uncropped) chunks and no chunk
    is touched twice — the precondition of :func:`ingest_aligned`,
    checkable driver-side from the slab slices alone."""
    grid = md.get_chunk_grid_slice(token, var)
    if grid.ndim == 0:
        return len(slabs) <= 1
    seen: set[tuple[int, ...]] = set()
    for slab in slabs:
        s = slab.slice
        for i in range(grid.ndim):
            c = grid.step[i]
            if s.start[i] % c != 0 or s.stop[i] % c != 0:
                return False
        for coord in ck.to_chunk_coordinates(s, grid):
            if coord in seen:
                return False
            seen.add(coord)
    return True


def write_variable(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    slabs: Sequence[Slab],
    index_mode: str = "full",
    compact_every: int | None = None,
) -> None:
    """Write a sequence of slabs to ``var`` under the in-flight version
    ``token`` (mandoline.clj:280-290 / impl.clj:280-308 semantics).  On
    a local store within the driver caps a delta write, or a full write
    with no base, runs on the driver with no Spark job
    (:func:`_driver_write`); otherwise it is one Spark write, where
    chunk-aligned, non-overlapping slab sets — the bulk-load shape —
    take the zero-shuffle :func:`ingest_aligned` path.

    ``compact_every``: with ``index_mode="delta"``, auto-collapse the
    overlay chain into a fresh full generation once a read of
    (version, var) would scan this many generation directories
    (``None`` = session conf ``spark.mandoline.compactEvery``, default
    16; 0 disables).  Keeps delta-commit read latency flat at any
    commit count without a separate maintenance schedule."""
    if index_mode not in ("full", "delta"):
        raise ValueError(f"index_mode must be 'full' or 'delta': {index_mode!r}")
    slabs = list(slabs)
    if not slabs:
        return
    rows = slabs_to_piece_rows(token, var, slabs)
    if _driver_write(conn, token, var, rows, index_mode):
        if index_mode == "delta":
            _maybe_autocompact(conn, token, var, compact_every)
        return
    ndim = len(md.get_variable_dimensions(token, var))
    aligned = _slabs_are_aligned(token, var, slabs)
    pieces = conn.spark.createDataFrame(rows, schema=piece_schema(ndim))
    if aligned:
        ingest_aligned(
            conn, token, var, pieces,
            index_mode=index_mode, compact_every=compact_every,
        )
    else:
        write_pieces(
            conn, token, var, pieces,
            index_mode=index_mode, compact_every=compact_every,
        )


# Row-group target of driver-written chunk files: Spark's default
# parquet.block.size, so a point read decompresses at most one bounded
# row group of blobs, as on Spark-written files.  Module-level so tests
# can shrink it.
CHUNK_ROW_GROUP_BYTES = 128 << 20


def _write_local_parquet(
    schema: T.StructType, tables, directory: str,
    row_group_bytes: int | None = None,
) -> None:
    """Stream ``tables`` — Arrow tables or dicts of columns — with
    ``schema``'s types into ``<directory>/part-0.parquet`` (zstd).  With
    ``row_group_bytes``, tables are gathered into row groups of about
    that many Arrow bytes (chunk files: a point read then decompresses
    one bounded row group); without it each table is written with
    pyarrow's default row groups.  The file is written under an
    underscore name and renamed into place, so readers — Spark's and
    :func:`~mandoline_spark.store._has_parquet` alike skip underscore
    names — never see a partial file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, "_part-0.parquet")
    with pq.ParquetWriter(tmp, arrow, compression="zstd") as out:
        buf: list = []

        def flush():
            t = pa.concat_tables(buf)
            buf.clear()
            out.write_table(
                t, max(1, row_group_bytes * t.num_rows // max(1, t.nbytes))
            )

        for t in tables:
            t = (
                pa.Table.from_pydict(t, schema=arrow)
                if isinstance(t, dict)
                else t.cast(arrow)
            )
            if row_group_bytes is None:
                out.write_table(t)
                continue
            buf.append(t)
            if sum(b.nbytes for b in buf) >= row_group_bytes:
                flush()
        if buf:
            flush()
    os.replace(tmp, os.path.join(directory, "part-0.parquet"))


def _driver_write(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    rows: list[Row],
    index_mode: str,
) -> bool:
    """Driver write tier: commit the piece ``rows`` of driver-resident
    slabs (:func:`slabs_to_piece_rows`) with numpy + pyarrow and no
    Spark job — the reference's client-side ``write-variable``
    (impl.clj:246-308).  Returns False, having written nothing, unless
    the store is LOCAL, the commit is a delta or a full commit with no
    base, the touched base entries resolve within
    ``index_map_max_entries``, the chunk table is within
    ``blob_local_fetch_max_bytes`` (or empty), no generation of the
    base carries cross-writer masks, and every base blob is found;
    the caller then takes the Spark tier.  (A full commit onto a base
    must carry every untouched entry: the Spark tier's anti-join does
    that in parallel, where the driver would fold and rewrite the whole
    base map serially.)

    Same semantics as :func:`write_pieces`: each touched chunk's pieces
    merge in ``ord`` order onto its resolved base blob, new content is
    appended once as one zstd Parquet file under ``chunks/job-<id>/``
    (no bloom filter — see :func:`chunk_table_writer`), and the index
    generation commits through :func:`_commit_generation` against the
    generation snapshot taken before the base read."""
    if not isinstance(conn.fs, fsmod.LocalFS):
        return False
    vid = token["version-id"]
    base_gens = conn.index_gens(vid, var)
    expected_gen = (base_gens[-1] + 1) if base_gens else 0
    plan = conn._local_index_plan(vid, var) or []
    if plan and index_mode == "full":
        return False
    if any(_gen_masked(conn, v, var, g) for v, g in plan):
        return False
    files = conn._local_chunk_files()
    if files is None:
        if _local_parquet_files(conn.chunks_path()):
            return False  # chunk table over the driver byte cap
        files = []
    ndim = len(md.get_variable_dimensions(token, var))
    pieces: dict[tuple, list] = {}  # coord → [(pstart, pstop, data)], ord order
    for r in rows:
        pieces.setdefault(tuple(r[1 : 1 + ndim]), []).append(
            tuple(r[2 + ndim : 5 + ndim])
        )
    base = {}
    if plan and pieces:
        box = [
            (min(c[i] for c in pieces), max(c[i] for c in pieces))
            for i in range(ndim)
        ]
        base = conn._local_index_map(
            vid, var, conn.index_map_max_entries, box
        )
        if base is _SPARK_RESOLVE:
            return False
        base = base or {}
    blobs = Connection._local_blobs(
        files, [base[c] for c in pieces if c in base], copy=False
    )
    if blobs is None:
        return False

    grid = md.get_chunk_grid_slice(token, var)
    type_name = md.get_type(token, var)
    fill = md.get_fill(token, var)
    merged = {
        c: _merge_chunk(
            type_name,
            fill,
            ck.from_chunk_coordinate(grid, c),
            [{"lyr": 0, "wb": None, "blob": blobs[base[c]]}]
            if c in base
            else None,
            ps,
        )
        for c, ps in pieces.items()
    }
    try:
        new = dict(merged.values())
        for h in Connection._local_hash_scan(files, list(new), blobs=False):
            del new[h]
        if new:
            import uuid

            _write_local_parquet(
                CHUNK_SCHEMA,
                [{
                    "hash": list(new),
                    "blob": list(new.values()),
                    "nbytes": [len(b) for b in new.values()],
                }],
                os.path.join(
                    conn.chunks_path(), f"job-{uuid.uuid4().hex[:12]}"
                ),
                row_group_bytes=CHUNK_ROW_GROUP_BYTES,
            )

        def write_rows(gen_path: str, is_delta: bool, record_masks: bool) -> int:
            # no carry: a full commit here has no base (see above)
            coords = list(merged)
            if not coords:
                return 0
            cols = {"ckey": [_ckey(c) for c in coords]}
            for i, name in enumerate(_coord_cols(ndim)):
                cols[name] = [c[i] for c in coords]
            cols["chunk_hash"] = [merged[c][0] for c in coords]
            cols["wb"] = [
                [x for p in pieces[c] for x in (*p[0], *p[1])]
                if record_masks
                else None
                for c in coords
            ]
            _write_local_parquet(_index_gen_schema(ndim), [cols], gen_path)
            return len(coords)

        _commit_generation(
            conn, vid, var, index_mode, expected_gen,
            has_base=bool(plan), can_mask=True, write_rows=write_rows,
        )
    finally:
        conn.invalidate_cache()
    return True


def write_pieces(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    pieces: DataFrame,
    index_mode: str = "full",
    compact_every: int | None = None,
) -> None:
    """Distributed write entry: ``pieces`` in :func:`piece_schema` form
    may come from any Spark computation (the 100 TB path — executors
    generate pieces; nothing funnels through the driver).

    ``index_mode`` picks the index-generation shape:

    - ``"full"`` (default): copy-forward — the new generation carries
      every coordinate, so readers scan exactly one directory.  Commit
      cost is O(total chunks): fine up to ~1e8 chunks, dominant beyond.
    - ``"delta"``: the generation holds only the coordinates this job
      wrote (O(touched chunks) commit — the 100 TB path).  Readers
      overlay deltas on the newest full generation last-writer-wins;
      ``compact_every`` (see :func:`write_variable`) auto-collapses
      the chain once reads would scan that many generation
      directories, or run
      :func:`mandoline_spark.maintenance.compact_index` on your own
      schedule (set ``compact_every=0`` to opt out).  A delta with no
      base index anywhere in the ancestor chain is already complete
      and is written as full.
    """
    if index_mode not in ("full", "delta"):
        raise ValueError(f"index_mode must be 'full' or 'delta': {index_mode!r}")
    spark = conn.spark
    vid = token["version-id"]
    ndim = len(md.get_variable_dimensions(token, var))
    ccols = _coord_cols(ndim)
    type_name = md.get_type(token, var)
    fill = md.get_fill(token, var)
    grid = md.get_chunk_grid_slice(token, var)
    grid_tuple = (grid.start, grid.stop, grid.step)

    # Snapshot the generations visible at BASE-READ time: the claim
    # number this job later draws is compared against this snapshot to
    # detect a concurrent writer.  (Claimed != expected ⇔ a generation
    # this job's base CANNOT contain landed in between — snapshotting
    # later, at commit, left a TOCTOU window where a generation
    # committed during the merge job made expected == claimed while the
    # base genuinely missed it.)
    base_gens = conn.index_gens(vid, var)
    expected_gen = (base_gens[-1] + 1) if base_gens else 0
    plan = conn._local_index_plan(vid, var) or []
    has_masks = any(_gen_masked(conn, v, var, g) for v, g in plan)
    if has_masks and index_mode == "full":
        # a full-mode commit's copy-forward carry resolves untouched
        # coords wholesale (winner hash per ckey) — it would bake the
        # masked layers' loss into the new full generation.  Merge the
        # masked state first; the carry then reads a clean base.
        reconcile_version(conn, token, variables=[var])
        base_gens = conn.index_gens(vid, var)
        expected_gen = (base_gens[-1] + 1) if base_gens else 0
        plan = conn._local_index_plan(vid, var) or []
        has_masks = False
    chunks = conn.chunks_df()

    out_schema = T.StructType(
        list(index_schema(ndim).fields)
        + [
            T.StructField("blob", T.BinaryType(), False),
            T.StructField("nbytes", T.LongType(), False),
        ]
    )

    # One shuffle groups each chunk's pieces; the pieces arrive as a
    # sorted struct array (sort_array orders by ord first — ties are
    # broken deterministically by piece position, where the reference's
    # thread pool left them unordered).  The groupBy keys on ckey ALONE
    # (the coordinate columns are a pure function of it, carried
    # through first()): the downstream base/layer joins are on ckey,
    # and keying the agg the same way lets its HashPartitioning satisfy
    # the join requirement — no second exchange of the piece bytes.
    # The agg is persisted BEFORE any join derives from it: the base/
    # layer attachments semi-join its ckeys, so an unpersisted agg
    # appears twice in the joined plan and the piece shuffle runs twice.
    caches: list = []  # frames persisted by this call, dropped in the finally
    agg = pieces.groupBy("ckey").agg(
        *[F.first(c).alias(c) for c in ccols],
        F.sort_array(
            F.collect_list(F.struct("ord", "pstart", "pstop", "data"))
        ).alias("_ps"),
    ).persist()
    caches.append(agg)
    if not has_masks:
        base_index = _base_index_df(conn, token, var)
        if base_index is not None and chunks is not None:
            # Base blobs attach per CHUNK, after the piece shuffle: the
            # old per-piece attach shipped each chunk's base blob once
            # per piece through the groupBy exchange, and its blob join
            # exchanged the ENTIRE chunk table per write job (r11
            # review) — a one-chunk partial write into a petabyte store
            # paid a full-table blob shuffle.  The touched-ckey
            # semi-join plus _touched_base_blobs keep blob movement
            # O(touched).  The count is one job over the persisted agg
            # and front-loads the piece pipeline it would pay anyway.
            base_rows = base_index.select(
                "ckey", F.col("chunk_hash").alias("_bhash")
            ).join(agg.select("ckey"), "ckey", "left_semi")
            # size the broadcast decision from footer metadata when the
            # bound already fits the budget (zero jobs — the common
            # small-store / test / bench shape); only an inconclusive
            # bound pays the exact count over the persisted agg
            bound = _index_rows_bound(conn, vid, var)
            n_rows = (
                bound
                if bound is not None
                and bound * 1024 <= _bcast_budget(conn)
                else agg.count()
            )
            based = _touched_base_blobs(
                conn, chunks, base_rows, n_rows
            ).persist()
            caches.append(based)
            grouped = agg.join(based, "ckey", "left")
        else:
            grouped = agg.withColumn("_base", F.lit(None).cast("binary"))
        # normalize the base to the layered representation the merge
        # kernel consumes: one wholesale layer (the resolved winner
        # blob).  agg and based are both cached, so the join replays
        # cheaply per action — the joined frame needs no third persist.
        grouped = grouped.withColumn(
            "_layers",
            F.when(
                F.col("_base").isNotNull(),
                F.array(
                    F.struct(
                        F.lit(0).alias("lyr"),
                        F.lit(None).cast(_WB_TYPE).alias("wb"),
                        F.col("_base").alias("blob"),
                    )
                ),
            ),
        ).drop("_base")
    else:
        # masked base: the resolved winner blob is NOT the chunk's full
        # content (a concurrent writer's cells live in a lower layer) —
        # attach the whole live layer stack per touched chunk and let
        # the merge kernel fold it (the transient pre-reconcile shape;
        # reads of committed versions never see it)
        # n_hint sizes the broadcast-prune decision.  Prefer the
        # zero-job footer bound (same shortcut as the unmasked branch);
        # fall back to a LAZY exact count so the job only runs after
        # _layered_base_grouped has confirmed there is a stack to
        # attach at all (r11 ADVICE: the eager count paid a discarded
        # job when plan was empty / chunks was None).
        bound = _index_rows_bound(conn, vid, var)
        layers = _layered_base_grouped(
            conn, var, plan, agg.select("ckey"), chunks,
            n_hint=(
                bound
                if bound is not None
                and bound * 1024 <= _bcast_budget(conn)
                else (lambda: agg.count() * max(1, len(plan)))
            ),
        )
        if layers is not None:
            grouped = agg.join(layers, "ckey", "left")
        else:
            grouped = agg.withColumn(
                "_layers",
                F.lit(None).cast(
                    f"array<struct<lyr:int,wb:{_WB_TYPE},blob:binary>>"
                ),
            )
        grouped = grouped.persist()
        caches.append(grouped)

    # Bulk-ingest fast path, all JVM: a chunk written by exactly one
    # piece covering the whole (uncropped) chunk slice with no base to
    # merge onto IS its own canonical blob — hash it with sha1() and
    # never ship the bytes through a Python worker.  This is the shape
    # of every aligned bulk load, so at scale the write path's hot loop
    # stays inside whole-stage codegen.
    p0 = F.col("_ps")[0]
    full_cover = F.lit(True)
    for i in range(ndim):
        step_i = grid_tuple[2][i]
        full_cover = (
            full_cover
            & (p0["pstart"][i] == F.col(ccols[i]) * step_i)
            & (p0["pstop"][i] == (F.col(ccols[i]) + 1) * step_i)
        )
    is_fast = (
        (F.size("_ps") == 1) & F.col("_layers").isNull() & full_cover
    )
    fast = grouped.filter(is_fast).select(
        "ckey",
        *ccols,
        F.sha1(p0["data"]).alias("chunk_hash"),
        p0["data"].alias("blob"),
        F.length(p0["data"]).cast("long").alias("nbytes"),
    )

    def merge_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grid_s = Slice(*grid_tuple)
        for pdf in batches:
            out = []
            for i in range(len(pdf)):
                coord = tuple(int(pdf[c].iloc[i]) for c in ccols)
                h, blob = _merge_chunk(
                    type_name,
                    fill,
                    ck.from_chunk_coordinate(grid_s, coord),
                    pdf["_layers"].iloc[i],
                    # already ord-sorted
                    ((p["pstart"], p["pstop"], p["data"]) for p in pdf["_ps"].iloc[i]),
                )
                out.append(
                    {
                        "ckey": _ckey(coord),
                        **{c: coord[i] for i, c in enumerate(ccols)},
                        "chunk_hash": h,
                        "blob": blob,
                        "nbytes": len(blob),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    slow = grouped.filter(~is_fast).mapInPandas(merge_batches, out_schema)
    merged = fast.unionByName(slow)
    merged = merged.persist()
    # per-chunk written boxes (this job's piece extents), JVM-derived
    # from the already-grouped pieces; only attached to the index when
    # the commit detects a concurrent writer
    wb_df = grouped.select(
        "ckey",
        F.flatten(
            F.transform(
                "_ps", lambda p: F.concat(p["pstart"], p["pstop"])
            )
        ).alias("_wb"),
    )
    try:
        _commit_merged(
            conn, token, var, merged, index_mode,
            expected_gen=expected_gen, wb_df=wb_df,
        )
    finally:
        merged.unpersist()
        for c in caches:
            c.unpersist()
        # read-through caches are stale after any append (cache.clj's
        # write-back variant is deliberately not reproduced)
        conn.invalidate_cache()
    if index_mode == "delta":
        _maybe_autocompact(conn, token, var, compact_every)


def _layered_base_grouped(
    conn: Connection,
    var: str,
    plan: list[tuple[int, int]],
    touched_ckeys: DataFrame,
    chunks: DataFrame | None,
    n_hint: "int | Callable[[], int] | None" = None,
) -> DataFrame | None:
    """(ckey, _layers) for every touched chunk: the live index layer
    stack — generation application order, each with its mask and blob —
    grouped per coordinate for the merge kernel.  Only the touched
    ckeys' layers are fetched (semi join before the blob join).  None
    when there are no layers to attach.  ``n_hint`` may be a callable
    so an exact-count Spark job is deferred until the early returns
    have proven a stack exists (r11 ADVICE)."""
    if not plan or chunks is None:
        return None
    if callable(n_hint):
        n_hint = n_hint()
    stack = None
    for i, (v, g) in enumerate(plan):
        df = _norm_wb(conn._gen_df(v, var, g)).select(
            "ckey", "chunk_hash", "wb"
        ).withColumn("_lyr", F.lit(i))
        stack = (
            df
            if stack is None
            else stack.unionByName(df, allowMissingColumns=True)
        )
    stack = stack.join(touched_ckeys.distinct(), "ckey", "left_semi")
    blob_src = chunks.select(F.col("hash").alias("chunk_hash"), "blob")
    if n_hint is not None and n_hint * 1024 <= _bcast_budget(conn):
        # prune the chunk table to the stack's hashes before any blob
        # bytes move (same streamed-scan discipline as
        # _touched_base_blobs; n_hint bounds the stack's row count)
        blob_src = blob_src.join(
            F.broadcast(stack.select("chunk_hash").distinct()),
            "chunk_hash",
            "left_semi",
        )
    else:
        # shuffle_hash: the decompressed-broadcast guard — never let
        # the planner broadcast the blob side
        blob_src = blob_src.hint("shuffle_hash")
    blobbed = stack.join(blob_src, "chunk_hash", "inner")
    return blobbed.groupBy("ckey").agg(
        F.collect_list(
            F.struct(
                F.col("_lyr").alias("lyr"),
                F.col("wb").alias("wb"),
                F.col("blob").alias("blob"),
            )
        ).alias("_layers")
    )


def _dedup_by_hash(new_chunks: DataFrame) -> DataFrame:
    """One representative (hash, blob, nbytes) row per distinct hash of
    ``new_chunks`` (hash, blob, nbytes, ckey), WITHOUT shuffling blob
    bytes: the shuffle carries only (hash, 8-byte key) pairs to elect a
    winner per hash, and the winners broadcast back onto the input as a
    broadcast-hash join — the blobs stay in their partitions.
    ``dropDuplicates(["hash"])`` would ship every unique blob through
    the exchange instead.

    The winner key is ``xxhash64(ckey)``, a pure function of the row's
    chunk coordinate — unique per commit — so a recomputed input (an
    evicted cache block, a lost executor) elects the same winner on
    both sides of the join, whatever its partitioning or row order.  A
    key collision between two coordinates holding the same content
    keeps both rows: an identical duplicate blob, never a missing one.
    The winner set is one 48-byte row per distinct hash in the batch —
    broadcastable up to ~10M new chunks per job (~0.5 GB); split larger
    ingests into multiple jobs."""
    tagged = new_chunks.withColumn("_k", F.xxhash64("ckey")).drop("ckey")
    winners = tagged.groupBy("hash").agg(F.min("_k").alias("_k"))
    return tagged.join(F.broadcast(winners), ["hash", "_k"]).drop("_k")


# Index-generation file-size target (guide §6): ~4M skinny index rows
# (~200 MB at ~50 B/row) per part file.  The file count for a commit is
# ceil(grid_chunk_bound / this), derived driver-side with no job — see
# _commit_merged.  Module-level so probes/tests can A/B the layout.
INDEX_ROWS_PER_FILE = 4_000_000


def chunk_table_writer(df: DataFrame):
    """Chunk-table parquet writer of the Spark tier: bloom filter on the
    content hash.  (Files appended by the driver write tier carry none —
    pyarrow 16.1 cannot write one — and each holds one commit's new
    chunks in row groups of ~``CHUNK_ROW_GROUP_BYTES``; the driver's own
    blob fetch reads the hash column first and never consults a bloom
    filter.)

    Point fetches filter the chunk table by hash, and SHA-1 hashes are
    uniformly random, so per-row-group min/max statistics never prune —
    every lookup otherwise scans every row group's hash column.  A
    bloom filter restores row-group skipping for equality/IN
    predicates on exactly that access path (measured on a 366 MB
    45-row-group incompressible table, 5-hash IN: Spark filtered scan
    0.32 s → 0.23 s warm local disk; cold object storage skips the
    row-group IO itself).  ``expected.ndv`` is sized to the chunk
    shape — a 128 MB row group holds ~2,400 reference-sized (53 KiB)
    chunks, so 16K ndv keeps the false-positive rate < 1 % up to 6x
    smaller chunks at ~29 KiB of filter per row group (the parquet-mr
    DEFAULT ndv of 1M costs ~1.4 MiB per row group — measured +19 %
    file size on the same table; sized, the overhead is < 0.1 %)."""
    return (
        df.write.option("parquet.bloom.filter.enabled#hash", "true")
        .option("parquet.bloom.filter.expected.ndv#hash", str(16 * 1024))
    )


def _commit_merged(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    merged: DataFrame,
    index_mode: str,
    expected_gen: int | None = None,
    wb_df: DataFrame | None = None,
    covers_grid: Callable[[], bool] | None = None,
) -> str | None:
    """Append chunks + write the next index generation from a merged
    (ckey, coords…, chunk_hash, blob, nbytes) DataFrame.  ``merged``
    MUST be persisted by the caller — it is consumed by two actions.
    Returns the path of the index generation this call wrote (NOT
    necessarily the newest one — a concurrent shard writer may have
    claimed a later number), or None when nothing reached the index.

    A full-mode generation carries every untouched base entry by an
    anti-join of the base index against the batch's ckeys.
    ``covers_grid`` (:func:`ingest_aligned`'s alignment observation)
    is called once the chunk append has run and before a generation
    is claimed; it may raise to abort the commit, and True proves the
    batch writes every grid chunk, so the base index is never built
    and nothing is carried.

    The index write is ``coalesce(n_files)`` with ``n_files`` =
    ceil(grid chunks / ``INDEX_ROWS_PER_FILE``): one task below 4M
    grid chunks.  Measured against a floor of one file per core at the
    perfbench bulk shape (1,400 grid chunks, local[4], 6 alternating
    pairs), the index-write job took a median 90 / 96 ms (first
    ingest / full-cover re-ingest) with one task and 106 / 108 ms with
    four, which also wrote four times the files; so no floor.

    Concurrency: safe for multiple simultaneous driver processes
    writing the same in-flight version (the writer_token flow) —
    chunk batches land in per-job subdirectories (a shared append
    would let one job's FileOutputCommitter cleanup delete the
    other's ``_temporary`` staging), and the index generation commits
    through :func:`_commit_generation`'s claim protocol."""
    import uuid

    vid = token["version-id"]
    ndim = len(md.get_variable_dimensions(token, var))
    ccols = _coord_cols(ndim)

    # 1. Append previously-unseen chunk blobs (content-addressed
    #    dedup: chunk.clj:35-45 / impl.clj:256-269).  Duplicate
    #    appends lost to a concurrent job are harmless — same bytes
    #    under the same hash; readers merge them idempotently.
    new_chunks = merged.select(
        F.col("chunk_hash").alias("hash"), "blob", "nbytes", "ckey"
    )
    new_chunks = _dedup_by_hash(new_chunks)
    existing = conn.chunks_df()
    if existing is not None:
        new_chunks = new_chunks.join(
            existing.select("hash"), "hash", "left_anti"
        )
    batch_dir = os.path.join(
        conn.chunks_path(), f"job-{uuid.uuid4().hex[:12]}"
    )
    chunk_table_writer(new_chunks).mode("overwrite").parquet(batch_dir)
    skip_carry = covers_grid is not None and covers_grid()

    # 2. Write the next index generation: written coords take the
    #    new hash.  Full mode also carries every untouched base
    #    entry (there is none when ``covers_grid`` proved the batch
    #    writes every chunk); delta mode leaves them to read-time
    #    overlay.
    # The expected generation is snapshot where the caller read its
    # base (write_pieces passes it in — snapshotting here leaves a
    # TOCTOU window where a concurrent generation committed during the
    # merge job goes undetected); callers whose blobs are
    # base-independent (aligned ingest, reconcile) leave it None and
    # get the local snapshot.
    own_gens = conn.index_gens(vid, var)
    if expected_gen is None:
        expected_gen = (own_gens[-1] + 1) if own_gens else 0
    if index_mode == "full":
        base_index = None if skip_carry else _base_index_df(conn, token, var)
        has_base = base_index is not None
    else:
        # delta commits consult only base EXISTENCE (the delta-vs-
        # promoted-full decision); answering it from fs metadata
        # skips the full overlay-chain relation construction
        # (~0.3-0.5s of parquet listing/footer setup per generation)
        # on exactly the frequent-small-commit path delta mode exists
        # for (r11 review)
        base_index = None
        parent = token.get("parent")
        has_base = bool(own_gens) or (
            parent is not None
            and bool(conn._local_index_plan(parent, var))
        )
    # Index-generation file sizing: the write otherwise
    # inherits the piece pipeline's task count — 32 part files for a
    # few thousand skinny rows at fixture scale — paying commit fan-in
    # per file on every ingest AND a footer read per file on every
    # later index scan (resolve_index_df, delta overlays, the array
    # queries).  The CHUNK GRID bounds this generation's possible row
    # count driver-side with no job (an index row exists per touched
    # chunk; full-mode carry is also grid-bounded), so the file count
    # derives from data, not from task-count accidents: ~4M rows/file
    # (~200 MB at ~50 B/row, inside the 128 MB-1 GB band).  coalesce
    # never widens, so at 100 TB (billions of chunks) the write keeps
    # its parallelism; locally the skinny projection collapses to one
    # right-sized file.
    grid_chunks = math.prod(_grid_shape(md.get_chunk_grid_slice(token, var)))
    n_files = max(1, -(-grid_chunks // INDEX_ROWS_PER_FILE))

    def write_rows(gen_path: str, is_delta: bool, record_masks: bool) -> int:
        from pyspark.sql import Observation

        new_index = merged.select("ckey", *ccols, "chunk_hash")
        if record_masks:
            new_index = new_index.join(
                wb_df.withColumnRenamed("_wb", "wb"), "ckey", "left"
            )
        else:
            new_index = new_index.withColumn(
                "wb", F.lit(None).cast(_WB_TYPE)
            )
        if base_index is not None and not is_delta:
            carried = base_index.join(
                new_index.select("ckey"), "ckey", "left_anti"
            )
            new_index = new_index.unionByName(
                carried, allowMissingColumns=True
            )
        # Emptiness is decided from the DATA side — an Observation
        # piggybacked on the append (zero extra jobs) — never from a
        # post-append listing: on a list-after-write-lagged store a
        # NON-empty generation whose keys are not listable yet would
        # read as empty and be dropped, turning a successful ingest
        # into silent data loss.  An empty append leaves
        # only _SUCCESS.
        written = Observation()
        new_index.coalesce(n_files).observe(
            written, F.count(F.lit(1)).alias("rows")
        ).write.mode("append").parquet(gen_path)
        return written.get["rows"]

    return _commit_generation(
        conn, vid, var, index_mode, expected_gen,
        has_base=has_base, can_mask=wb_df is not None,
        write_rows=write_rows,
    )


def _commit_generation(
    conn: Connection,
    vid: int,
    var: str,
    index_mode: str,
    expected_gen: int,
    has_base: bool,
    can_mask: bool,
    write_rows: Callable[[str, bool, bool], int],
) -> str | None:
    """The index-generation commit protocol shared by both write tiers:
    claim the next generation (:func:`claim_index_gen`), check the
    claim against ``expected_gen`` (the generation snapshot taken where
    the writer read its base), write the ``_DELTA`` / ``_MASKED``
    markers, let ``write_rows(gen_path, is_delta, record_masks)`` write
    the generation's parquet (returning its row count; a full
    generation carries the untouched base entries, a masked one records
    each row's written boxes in ``wb``), then ``_SEALED`` — or
    tombstone the claim when no row was written.  Returns the
    generation's path, or None.

    Concurrent shard writers to the SAME variable must use
    ``index_mode="delta"``: full mode's copy-forward carries the base
    snapshot each writer saw, so whichever full generation ends up
    newer silently drops the other's rows; deltas overlay.  That
    contract is ENFORCED, not just documented: a full-mode commit
    whose claimed generation is not exactly its base snapshot + 1
    raises :class:`ConcurrentWriteError` before any index row lands
    (the chunk blobs already appended are content-addressed and
    harmless — a retry or delta re-commit reuses them)."""
    gen_path, gen = claim_index_gen(conn, vid, var)
    if index_mode == "full" and gen != expected_gen:
        # Another writer claimed/committed a generation after our base
        # snapshot: committing a full index here would race it under
        # newest-full-wins resolution, silently dropping whichever
        # writer's rows sort older.  Release the claim and fail loud.
        try:
            # tombstone, not rmtree (r13 advice): the dropped claim must
            # stay a COUNTED position for check_generations_complete's
            # contiguity walk — >=3 contiguous bare-rmtree holes above
            # the visible max could end the walk before a lag-hidden
            # sealed generation, the same silent-shadowing hole
            # release_claim/vacuum already close
            tombstone_claim(conn.fs, gen_path)
        except Exception:
            pass  # a stale claim-only gen dir is vacuumable garbage
        raise ConcurrentWriteError(
            f"concurrent index write detected for v={vid} var={var}: "
            f"full-mode commit expected generation {expected_gen} but "
            f"claimed {gen}.  Concurrent shard writers to one variable "
            f'must use index_mode="delta" (deltas overlay; full '
            f"generations race).  If the intervening generation is a "
            f"claim-only husk from a crashed writer, "
            f"writer.release_claim(conn, {vid}, {var!r}, <gen>) "
            f"unblocks full mode."
        )
    # A requested delta with no visible base is promoted to full ONLY
    # when this writer claimed generation 0: it is then provably the
    # first writer and its rows ARE the complete index (the
    # single-writer fast path test_delta_without_any_base pins).  A
    # claim > 0 with no visible base means another writer's generation
    # is in flight below us — promoting to full there would make
    # newest-full-wins resolution DROP that writer's rows, so the
    # delta marker is kept and resolution overlays both.
    is_delta = index_mode == "delta" and (has_base or gen > 0)
    # Cross-writer masks: a delta commit whose claimed generation is
    # not its base snapshot + 1 ran CONCURRENTLY with another writer —
    # its blobs cannot contain that writer's cells, so the rows record
    # the sub-slices this job actually wrote (``wb``).  The read-
    # modify-write base and the commit-time reconcile merge masked
    # layers cell-correct (the reference's update-chunk! CAS semantics,
    # impl.clj:246-278, without per-chunk retry loops).  Unmasked rows
    # write wb = null for a uniform generation schema.
    record_masks = is_delta and can_mask and gen != expected_gen
    if is_delta:
        # the marker goes in BEFORE the parquet append: the generation
        # becomes visible to index_gens the moment part files commit,
        # and a reader seeing a delta without its _DELTA marker would
        # treat it as full (underscore-prefixed, so Parquet readers
        # ignore the marker itself)
        conn.fs.write_text(os.path.join(gen_path, "_DELTA"), "")
    if record_masks:
        # same visibility rule as _DELTA: the mask marker must exist
        # whenever the generation's rows are readable
        conn.fs.write_text(os.path.join(gen_path, "_MASKED"), "")
    if not write_rows(gen_path, is_delta, record_masks):
        # empty write (zero pieces reached the index — e.g. an
        # externally-built pieces frame that filtered to nothing).
        # Sealing it would read as a lag-hidden COMMITTED generation to
        # the completeness check — an unreleasable commit wedge — and
        # leaving it unsealed leaves a husk for the operator.  It is
        # OUR OWN claim with nothing in it: drop it and report no
        # generation.  The drop is a tombstone, not an rmtree, so the
        # abandoned claim remains a counted position for the
        # completeness walk; claim_index_gen reclaims
        # tombstoned slots, so the number is not burned.
        tombstone_claim(conn.fs, gen_path)
        return None
    # seal AFTER the append commits: a strong per-key marker proving
    # the generation's parquet is complete.  On list-after-write-lagged
    # stores this is what lets the completeness check (and vacuum's
    # husk collection) distinguish "writer died mid-append" from
    # "parquet committed but its keys are not listable yet" without
    # trusting a listing (r12 review).
    conn.fs.write_text(os.path.join(gen_path, "_SEALED"), "")
    return gen_path


def overlay_depth(conn: Connection, vid: int, var: str) -> int:
    """Number of index-generation directories a read of (vid, var) must
    scan and overlay: this version's delta generations above its newest
    FULL generation (plus that full itself), falling back through
    ancestor versions while no full generation bounds the chain.  This
    is the quantity the delta-overlay read pays per action and that
    :func:`mandoline_spark.maintenance.compact_index` /
    ``compact_every`` exist to cap (the reference keeps exactly one
    index per version — variable.clj:76-84; the overlay chain is this
    engine's O(touched)-commit extension).  Delegates to the catalog's
    resolution plan so the generation-selection rules live in exactly
    one place (a hand-rolled mirror here drifted from
    ``_local_index_plan`` only by luck — r11 review)."""
    return len(conn._local_index_plan(vid, var) or [])


def materialize_full_index(conn: Connection, vid: int, var: str) -> None:
    """Write the RESOLVED index of (vid, var) as one new full
    generation, collapsing its delta-overlay chain: the shared body of
    :func:`mandoline_spark.maintenance.compact_index` and the write
    paths' ``compact_every`` auto-trigger.  Claims the generation
    exclusively (concurrent-writer safe) and stays invisible to
    readers until the part files commit; a following vacuum drops the
    superseded generations."""
    gens_before = conn.index_gens(vid, var)
    if any(
        _gen_masked(conn, vid, var, g) for g in gens_before
    ):
        # the resolved index is wholesale-per-coord: compacting over
        # unreconciled cross-writer masks would bake the losing
        # writer's cells out of the new full generation permanently.
        # Committed versions are always reconciled (finish_version);
        # this state is an in-flight version mid-multi-writer job.
        raise ConcurrentWriteError(
            f"v={vid} var={var} carries unreconciled cross-writer "
            "masked generations; run writer.reconcile_version (or "
            "commit the version, which reconciles) before compacting"
        )
    resolved = conn.index_df(vid, var)
    if resolved is None:
        return
    gen_path, gen = claim_index_gen(conn, vid, var)
    # Check-then-act guard: the mask scan and the resolution above ran
    # BEFORE the claim, so a concurrent shard writer committing (or
    # claiming) a generation in that window would end up BELOW this
    # full generation — newest-full-wins resolution would then
    # truncate its rows (masked or not) out of every future read,
    # silently and permanently.  The claim is the serialization point:
    # if it is not exactly our snapshot + 1, somebody intervened —
    # release the claim husk and fail loud (the autocompact caller
    # just skips; a later clean write re-triggers it).
    expected = (gens_before[-1] + 1) if gens_before else 0
    if gen != expected:
        try:
            # tombstone, not rmtree — counted position (see the
            # full-mode race release above; r13 advice)
            tombstone_claim(conn.fs, gen_path)
        except Exception:
            pass
        raise ConcurrentWriteError(
            f"concurrent index write detected while compacting "
            f"v={vid} var={var}: expected to claim generation "
            f"{expected} but claimed {gen}; the resolution snapshot "
            "is stale.  Retry after in-flight writers commit (a "
            "claim-only husk from a crashed writer can be released "
            f"with writer.release_claim(conn, {vid}, {var!r}, <gen>))."
        )
    resolved.write.mode("append").parquet(gen_path)
    # same post-append seal as _commit_merged (strong completeness
    # evidence for lagged-listing stores)
    conn.fs.write_text(os.path.join(gen_path, "_SEALED"), "")
    conn.invalidate_cache()


def _resolve_compact_every(conn: Connection, compact_every: int | None) -> int:
    """``None`` defers to the session conf
    ``spark.mandoline.compactEvery`` (default 16 — BASELINE.md's
    measured guidance is a compaction every ~10-20 deltas); 0 disables
    auto-compaction."""
    if compact_every is not None:
        return compact_every
    try:
        return int(
            conn.spark.conf.get("spark.mandoline.compactEvery", "16")
        )
    except ValueError:
        return 16


def _maybe_autocompact(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    compact_every: int | None,
) -> None:
    every = _resolve_compact_every(conn, compact_every)
    vid = token["version-id"]
    gens = conn.index_gens(vid, var)
    if every > 0 and gens:
        if any(_gen_masked(conn, vid, var, g) for g in gens):
            # unreconciled cross-writer masks: compaction would resolve
            # wholesale and drop the losing writer's cells — the
            # commit-time reconcile merges first, and ITS commit (or a
            # later clean delta) re-triggers compaction if depth still
            # warrants it
            return
        if overlay_depth(conn, vid, var) >= every:
            try:
                materialize_full_index(conn, vid, var)
            except ConcurrentWriteError:
                # a concurrent shard writer claimed/committed between
                # our resolution snapshot and the claim — compaction is
                # an optimization, so skip; the next clean write (or
                # the commit-time reconcile) re-triggers it
                return


def reconcile_version(
    conn: Connection,
    token: Mapping[str, Any],
    variables: Sequence[str] | None = None,
) -> list[str]:
    """Merge cross-writer same-chunk writes left by concurrent shard
    jobs (masked index generations) into cell-correct chunks — the
    commit-time counterpart of the reference's per-chunk
    ``update-chunk!`` CAS merge (impl.clj:246-278), which lets its
    shuffled lots-of-processes suite interleave two processes' writes
    INSIDE one chunk (concurrency.clj:183-189).  Concurrent writers
    here cannot see each other mid-flight (each claims its own delta
    generation), so the winning generation's blob lacks the losing
    writer's cells; its recorded written-boxes (``wb``) say exactly
    which cells it DID write, and this job folds the contested chunks'
    layer stacks through :func:`_apply_layers` into merged blobs,
    committed as one reconciling delta generation.

    Called automatically by ``Connection.finish_version`` (so committed
    versions always resolve wholesale-correct) and by full-mode writes
    atop masked state.  Pure fs-metadata no-op when no generation
    carries a ``_MASKED`` marker.  Returns the variables reconciled.

    Visibility contract, POSITIVELY CHECKED (r11 verdict #4): every
    shard writer's generation must be LISTABLE when this runs — the
    same all-writers-complete barrier the reference's multi-process
    suite enforces before its commit.  Claims are durable per-key
    state (``_CLAIM`` markers, strong GETs even on lagged stores), so
    :func:`check_generations_complete` counts issued claims against
    the listing and FAILS LOUD when a claimed generation is missing —
    a still-hidden generation on a legacy list-after-write-lagged
    store now aborts the commit (retry after the lag drains) instead
    of being silently shadowed by the reconciling generation."""
    vid = token["version-id"]
    done: list[str] = []
    names = (
        list(variables)
        if variables is not None
        else sorted(token.get("variables", {}))
    )
    for var in names:
        check_generations_complete(conn, vid, var)
        masked = [
            g
            for g in conn.index_gens(vid, var)
            if _gen_masked(conn, vid, var, g)
        ]
        if masked:
            _reconcile_var(conn, token, var, masked)
            done.append(var)
    return done


def _reconcile_var(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    masked_gens: Sequence[int],
) -> None:
    vid = token["version-id"]
    ndim = len(md.get_variable_dimensions(token, var))
    ccols = _coord_cols(ndim)
    type_name = md.get_type(token, var)
    fill = md.get_fill(token, var)
    grid = md.get_chunk_grid_slice(token, var)
    grid_tuple = (grid.start, grid.stop, grid.step)

    plan = conn._local_index_plan(vid, var) or []
    stack = None
    for i, (v, g) in enumerate(plan):
        df = _norm_wb(conn._gen_df(v, var, g)).select(
            "ckey", *ccols, "chunk_hash", "wb"
        ).withColumn("_lyr", F.lit(i))
        stack = (
            df
            if stack is None
            else stack.unionByName(df, allowMissingColumns=True)
        )
    if stack is None:
        return

    # contested ⇔ the WINNING layer is masked and at least one layer
    # sits below it.  A masked row alone over fill is equivalent to its
    # wholesale application (the writer merged onto the empty base it
    # saw), and a wholesale winner above masked rows was itself written
    # through the layer-aware base, so both need no merge.
    winner = Connection._stack_winner(stack, "_lyr")
    multi = (
        stack.groupBy("ckey").count().filter(F.col("count") >= 2)
    ).select("ckey")
    contested = (
        winner.filter(F.col("wb").isNotNull())
        .select("ckey")
        .join(multi, "ckey", "left_semi")
    )
    chunks = conn.chunks_df()
    n_contested = 0 if chunks is None else contested.count()
    if chunks is None or n_contested == 0:
        for g in masked_gens:
            conn.fs.rmtree(
                os.path.join(conn.index_path(vid, var, g), "_MASKED")
            )
        return

    sub = stack.join(contested, "ckey", "left_semi")
    blob_src = chunks.select(F.col("hash").alias("chunk_hash"), "blob")
    if n_contested * len(plan) * 1024 <= _bcast_budget(conn):
        # stream the chunk table, move only the contested layers' blobs
        # (same discipline as _touched_base_blobs; the full count above
        # replaced a limit(1) probe — same job class, and it sizes this
        # choice)
        blob_src = blob_src.join(
            F.broadcast(sub.select("chunk_hash").distinct()),
            "chunk_hash",
            "left_semi",
        )
    else:
        blob_src = blob_src.hint("shuffle_hash")
    blobbed = sub.join(blob_src, "chunk_hash", "inner")
    grouped = blobbed.groupBy("ckey", *ccols).agg(
        F.collect_list(
            F.struct(
                F.col("_lyr").alias("lyr"),
                F.col("wb").alias("wb"),
                F.col("blob").alias("blob"),
            )
        ).alias("_layers")
    )

    out_schema = T.StructType(
        list(index_schema(ndim).fields)
        + [
            T.StructField("blob", T.BinaryType(), False),
            T.StructField("nbytes", T.LongType(), False),
        ]
    )

    def merge_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grid_s = Slice(*grid_tuple)
        for pdf in batches:
            out = []
            for i in range(len(pdf)):
                coord = tuple(int(pdf[c].iloc[i]) for c in ccols)
                h, blob = _merge_chunk(
                    type_name,
                    fill,
                    ck.from_chunk_coordinate(grid_s, coord),
                    pdf["_layers"].iloc[i],
                    (),
                )
                out.append(
                    {
                        "ckey": _ckey(coord),
                        **{c: coord[k] for k, c in enumerate(ccols)},
                        "chunk_hash": h,
                        "blob": blob,
                        "nbytes": len(blob),
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in out_schema.fields]
            )

    merged = grouped.mapInPandas(merge_rows, out_schema).persist()
    try:
        _commit_merged(conn, token, var, merged, "delta")
    finally:
        merged.unpersist()
        conn.invalidate_cache()
    # markers drop only AFTER the reconciling generation is readable:
    # a crash in between re-runs the (idempotent) reconcile
    for g in masked_gens:
        conn.fs.rmtree(
            os.path.join(conn.index_path(vid, var, g), "_MASKED")
        )


def check_generations_complete(
    conn: Connection, vid: int, var: str, allow_unwritten: bool = False
) -> None:
    """Positive completeness check for the commit-time reconcile (r11
    verdict #4): every index generation CLAIMED for (vid, var) must be
    visible — listed by ``index_gens`` with committed parquet — before
    a reconciling (or otherwise resolution-bearing) commit may trust
    the listing.  The ``_CLAIM`` markers are durable per-key state
    written at claim time, and per-key GETs stay strongly consistent
    even on legacy list-after-write-lagged object stores (the S3
    model the ObjectStoreFS harness injects), so probing them counts
    the claims actually issued without depending on the lagged
    listing.  Claim numbers are allocated contiguously from 0
    (claim_index_gen walks max+1 upward on conditional-create
    failures), so the probe walks until a run of misses past the
    visible maximum; a hole can only come from an operator
    release_claim, which leaves a durable ``_RELEASED`` tombstone the
    walk counts as a covered position — the probe's upper bound does
    not depend on hole width (the 3-miss slack remains only as
    belt-and-braces for pre-tombstone datasets).  The ``_SEALED``
    marker (written by strong per-key PUT after every index parquet
    append commits) classifies an unlisted claim even when the
    generation's parquet KEYS are themselves lag-hidden — a listing
    probe alone could not tell that apart from a dead writer's husk.

    Raises :class:`ConcurrentWriteError` when
      - a claimed generation is sealed (or shows committed parquet)
        but is absent from the listing: list-after-write lag — retry
        after the listing drains; or
      - a claimed generation is unsealed with no parquet: its writer
        is still in flight (commit barrier violated) or died
        mid-write — wait, or ``release_claim`` after affirming the
        writer is dead.  ``allow_unwritten=True`` (vacuum: husks on
        committed versions are collectible garbage under its
        single-maintainer contract) skips this second class.
    """
    from .store import _has_parquet

    if not conn.fs.isdir(conn.index_path(vid, var)):
        return  # variable never written in this version
    visible = conn.index_gens(vid, var)
    vis = set(visible)
    limit = visible[-1] if visible else -1
    lag_hidden: list[int] = []
    unwritten: list[int] = []
    g = 0
    misses = 0
    while True:
        gen_path = conn.index_path(vid, var, g)
        if conn.fs.exists(os.path.join(gen_path, "_CLAIM")):
            misses = 0
            if g not in vis:
                if conn.fs.exists(
                    os.path.join(gen_path, "_SEALED")
                ) or _has_parquet(conn.fs, gen_path):
                    lag_hidden.append(g)
                else:
                    unwritten.append(g)
        elif conn.fs.exists(os.path.join(gen_path, "_RELEASED")):
            # released-claim tombstone (durable per-key state, like
            # _CLAIM/_SEALED): a counted position, never a candidate
            # generation.  Without it, >=3 contiguous operator
            # release_claims below a still-lag-hidden sealed
            # generation would end the walk before probing it,
            # reopening the silent-shadowing hole (r12 advice) — with
            # it, the probe's upper bound is independent of hole
            # width.
            misses = 0
        else:
            misses += 1
            if g > limit and misses >= 3:
                break
        g += 1
    if allow_unwritten:
        unwritten = []
    if lag_hidden:
        raise ConcurrentWriteError(
            f"v={vid} var={var}: claimed generation(s) {lag_hidden} "
            f"have committed parquet but are missing from the index "
            f"listing (visible: {visible}) — list-after-write lag.  "
            "Committing now would let the reconciling generation "
            "silently shadow those writers' cells; retry the commit "
            "after the store's listing catches up."
        )
    if unwritten:
        raise ConcurrentWriteError(
            f"v={vid} var={var}: claimed generation(s) {unwritten} "
            "carry no committed parquet — a shard writer is still in "
            "flight (the all-writers-complete commit barrier was not "
            "honored) or died mid-write.  Wait for it to finish, or "
            f"writer.release_claim(conn, {vid}, {var!r}, <gen>) after "
            "affirming the writer is dead."
        )


def tombstone_claim(fs, gen_path: str) -> None:
    """Release a claim directory by leaving a durable ``_RELEASED``
    tombstone (strong per-key state, like ``_CLAIM``/``_SEALED``) and
    deleting everything else.  The tombstone keeps the generation
    number a COUNTED position for :func:`check_generations_complete`'s
    contiguity walk — a plain rmtree would turn each released claim
    into a miss, and a run of them below a still-lag-hidden sealed
    generation would end the walk early (r12 advice).  Tombstone-first
    ordering is crash-safe: a crash in between leaves both markers,
    which the walk reads as a still-claimed husk (loud, retriable).

    Ordering invariant (r14 advice): ``_CLAIM`` is deleted LAST.  A
    reclaimer (:func:`claim_index_gen`) can only enter this slot once
    ``create_exclusive("_CLAIM")`` succeeds, i.e. once the old marker
    is gone — deleting it first (the pre-r15 order) opened a window
    where the reclaimer's fresh ``_CLAIM`` and early files were still
    being swept by THIS releaser, leaving the generation
    double-claimable (the lost-update the marker protocol exists to
    prevent).  With ``_CLAIM``-last, the sweep runs while the slot is
    still exclusively ours; a crash mid-sweep leaves ``_CLAIM`` +
    ``_RELEASED``, which the walk reads as a claimed husk."""
    fs.write_text(os.path.join(gen_path, "_RELEASED"), "")
    # non-claim markers are removed by NAME via strong per-key ops: on
    # a list-after-write-lagged store they may not be LISTABLE yet,
    # and leaving one behind would corrupt the tombstone's state
    for name in ("_DELTA", "_MASKED", "_SUPERSEDED"):
        p = os.path.join(gen_path, name)
        if fs.exists(p):
            fs.rmtree(p)
    # best-effort sweep for anything else visible (e.g. a dead
    # writer's _temporary staging) — _CLAIM stays until the very end
    for name in fs.listdir(gen_path):
        if name not in ("_RELEASED", "_CLAIM"):
            fs.rmtree(os.path.join(gen_path, name))
    # only now open the slot to reclaimers
    p = os.path.join(gen_path, "_CLAIM")
    if fs.exists(p):
        fs.rmtree(p)


def release_claim(conn: Connection, vid: int, var: str, gen: int) -> None:
    """Release a claim-only index generation left by a writer the
    OPERATOR affirms is dead (crashed between :func:`claim_index_gen`
    and its parquet append) — the manual unwedge for full-mode commits
    blocked by :class:`ConcurrentWriteError`.  Refuses to touch a
    generation that has committed parquet: that is real data, not a
    husk.  Releasing a claim whose writer is in fact still alive
    re-opens the lost-update race this machinery exists to prevent —
    hence an explicit operator action, never automatic.  (Vacuum
    collects these automatically for COMMITTED versions, where no
    writer can still be in flight.)  The release leaves a durable
    ``_RELEASED`` tombstone rather than deleting the directory — see
    :func:`tombstone_claim`."""
    from .store import _has_parquet

    gen_path = conn.index_path(vid, var, gen)
    if not conn.fs.isdir(gen_path):
        return
    # the seal is STRONG per-key evidence the parquet append completed
    # — on a lagged store the listing-based parquet probe alone would
    # let a completed-but-unlisted generation be deleted as a "husk"
    # (r12 second review pass)
    if conn.fs.exists(
        os.path.join(gen_path, "_SEALED")
    ) or _has_parquet(conn.fs, gen_path):
        raise ValueError(
            f"index generation v={vid} var={var} g={gen} has committed "
            f"parquet — it is a real generation, not a stale claim"
        )
    tombstone_claim(conn.fs, gen_path)


def claim_index_gen(conn: Connection, vid: int, var: str) -> tuple[str, int]:
    """Claim the next free index generation number with an exclusive
    ``_CLAIM`` marker; returns (directory, generation number).  The
    marker makes concurrent writers take DISTINCT generation numbers
    instead of both computing ``max+1`` and overwriting each other; it
    is underscore-prefixed so Parquet readers and `_has_parquet` ignore
    it, keeping a claimed-but-unwritten generation invisible to
    `index_gens` until its part files commit."""
    gens = conn.index_gens(vid, var)
    cand = (gens[-1] + 1) if gens else 0
    for _ in range(1024):
        gen_path = conn.index_path(vid, var, cand)
        conn.fs.makedirs(gen_path)
        if conn.fs.create_exclusive(
            os.path.join(gen_path, "_CLAIM"), ""
        ):
            # reclaiming a tombstoned slot (a released claim is a
            # counted-but-reusable position): clear the stale
            # _RELEASED with a strong per-key delete so a LIVE
            # generation never carries release state (r13 advice —
            # benign today because the walk reads _CLAIM before
            # _RELEASED, but marker state must stay canonical)
            rel = os.path.join(gen_path, "_RELEASED")
            if conn.fs.exists(rel):
                conn.fs.rmtree(rel)
            return gen_path, cand
        cand += 1  # claimed by a concurrent writer; take the next
    raise RuntimeError(
        f"could not claim an index generation for v={vid} var={var}"
    )


def _local_dup_ckey(conn: Connection, gen_path: str) -> bool | None:
    """Whether the index generation at ``gen_path`` repeats a ckey,
    read with pyarrow on a LOCAL store whose generation footers hold at
    most ``index_map_max_entries`` rows (the driver index cap); None
    leaves the check to Spark."""
    if not isinstance(conn.fs, fsmod.LocalFS):
        return None
    files = _local_parquet_files(gen_path)
    if _footer_rows(files) > conn.index_map_max_entries:
        return None
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ckeys = pq.read_table(files, columns=["ckey"]).column("ckey")
    return pc.count_distinct(ckeys).as_py() < len(ckeys)


def ingest_aligned(
    conn: Connection,
    token: Mapping[str, Any],
    var: str,
    pieces: DataFrame,
    index_mode: str = "full",
    compact_every: int | None = None,
) -> None:
    """Zero-shuffle bulk ingest for chunk-aligned pieces.

    Precondition: every piece covers its whole (uncropped) chunk slice
    and no two pieces target the same chunk — the shape of every aligned
    bulk load (NetCDF import, ETL re-chunking, the perf workload).  Under
    it, each piece IS its chunk's canonical blob, so the general path's
    two data shuffles (groupBy(coord) piece-merge and dropDuplicates
    batch-dedup) disappear: one projection hashes each blob with
    ``sha1()`` inside whole-stage codegen and the job goes straight to
    the dedup semi-join (which shuffles only (hash, 8-byte key) pairs — see
    :func:`_dedup_by_hash`) and the Parquet appends.

    Alignment is verified by an ``Observation`` piggybacked on the
    chunk append, and a misaligned batch raises before an index
    generation is claimed.  The same observation counts the pieces and
    those outside the chunk grid: an aligned full-mode batch with none
    outside and one piece per grid chunk writes every chunk (or holds a
    duplicate, caught next), so its generation carries nothing from the
    base (:func:`_commit_merged`).  Uniqueness is checked on the
    just-written generation's ``ckey`` column: with pyarrow on a LOCAL
    store whose generation footers hold at most
    ``index_map_max_entries`` rows (no job), else by one Spark
    aggregation.  A violation raises after some data may have been
    appended — safely: the version is uncommitted, so readers never see
    it (failed-ingest invisibility, test/failed_ingest.clj:26-146), a
    violating generation is deleted before the raise, and orphaned
    blobs are vacuumable.
    """
    from pyspark.sql import Observation

    if index_mode not in ("full", "delta"):
        raise ValueError(f"index_mode must be 'full' or 'delta': {index_mode!r}")
    ndim = len(md.get_variable_dimensions(token, var))
    ccols = _coord_cols(ndim)
    grid = md.get_chunk_grid_slice(token, var)
    if index_mode == "full":
        vid = token["version-id"]
        if any(
            _gen_masked(conn, v, var, g)
            for v, g in (conn._local_index_plan(vid, var) or [])
        ):
            # same guard as write_pieces: a full-mode carry over
            # unreconciled cross-writer masks would resolve the
            # contested coords wholesale and drop the losing writer's
            # cells (the aligned blobs themselves are base-independent,
            # but the CARRY is not)
            reconcile_version(conn, token, variables=[var])

    grid_shape = _grid_shape(grid)
    full_cover = in_grid = F.lit(True)
    for i in range(ndim):
        step_i = grid.step[i]
        full_cover = (
            full_cover
            & (F.col("pstart")[i] == F.col(ccols[i]) * step_i)
            & (F.col("pstop")[i] == (F.col(ccols[i]) + 1) * step_i)
        )
        in_grid = in_grid & F.col(ccols[i]).between(0, grid_shape[i] - 1)
    obs = Observation()
    checked = pieces.observe(
        obs,
        F.sum(F.when(full_cover, 0).otherwise(1)).alias("misaligned"),
        F.sum(F.when(in_grid, 0).otherwise(1)).alias("outside"),
        F.count(F.lit(1)).alias("pieces"),
    )

    def covers_grid() -> bool:
        # Delivered when the chunk append (the first action on the
        # persisted batch) completes.  Zero observed pieces yield None
        # sums (sum over no rows), not an error — any Observation
        # failure is a genuine bug and must propagate rather than skip
        # the alignment validation the fast path's correctness rests on.
        seen = obs.get
        if seen["misaligned"]:
            raise ValueError(
                f"ingest_aligned: {seen['misaligned']} piece(s) do not "
                "cover their whole chunk slice; use write_pieces for "
                "partial writes"
            )
        return not seen["outside"] and seen["pieces"] == math.prod(
            grid_shape
        )
    merged = checked.select(
        "ckey",
        *ccols,
        F.sha1("data").alias("chunk_hash"),
        F.col("data").alias("blob"),
        F.length("data").cast("long").alias("nbytes"),
    )
    merged = merged.persist()
    gen_path = None
    try:
        # use the generation THIS call claimed (index_gens[-1] could be
        # a concurrent shard writer's) for the self-checks below
        gen_path = _commit_merged(
            conn, token, var, merged, index_mode, covers_grid=covers_grid
        )
        if gen_path is not None:  # None ⇔ empty pieces: no-op write
            dup = _local_dup_ckey(conn, gen_path)
            if dup is None:
                dup = (
                    conn.spark.read.schema(_index_gen_schema(ndim))
                    .parquet(gen_path)
                    .groupBy("ckey")
                    .count()
                    .filter(F.col("count") > 1)
                    .limit(1)
                    .count()
                )
            if dup:
                raise ValueError(
                    "ingest_aligned: multiple pieces target the same "
                    "chunk; use write_pieces for overlapping writes"
                )
    except ValueError:
        # remove the violating index generation before raising: the
        # documented recovery is retrying with write_pieces under the
        # SAME token, and that path would otherwise use this
        # generation (duplicate ckeys / partial-cover blobs) as its
        # read-modify-write base — a nondeterministic merge that
        # commits without error.  The appended blobs stay (orphaned,
        # vacuumable) — the version is uncommitted so readers never
        # see them (failed-ingest invisibility).  This generation has
        # REAL parquet, so it dies by the strong rmtree FIRST —
        # tombstone_claim's listdir sweep can miss freshly-appended,
        # not-yet-listable part files on a lagged store, and a
        # lag-resurrected generation with duplicate ckeys is worse
        # than a walk hole (r14 self-review) — then the dir is
        # re-created as a counted _RELEASED position (r13 advice).  A
        # crash between the steps leaves a bare hole: exactly the
        # pre-r14 behavior, never worse.  The recreate is BEST-EFFORT
        # (r14 advice): an IO failure here must not shadow the
        # documented ValueError the retry path catches.  The rmtree
        # frees the slot, so a concurrent claimant may enter at any
        # instant after it — stamping _RELEASED into their live
        # generation would corrupt its marker state.  A bare exists()
        # probe only narrows that race; instead RE-CLAIM the slot with
        # the same atomic create_exclusive the claim protocol uses:
        # win ⇒ the slot is exclusively ours while we stamp (then the
        # claim marker is dropped, tombstone-style); lose ⇒ a real
        # claimant owns it — leave their generation alone.
        if gen_path is not None:
            conn.fs.rmtree(gen_path)
            try:
                conn.fs.makedirs(gen_path)
                claim = os.path.join(gen_path, "_CLAIM")
                if conn.fs.create_exclusive(claim, ""):
                    conn.fs.write_text(
                        os.path.join(gen_path, "_RELEASED"), ""
                    )
                    conn.fs.rmtree(claim)
            except Exception:
                pass  # bare hole == pre-r14 behavior, never worse
        raise
    finally:
        merged.unpersist()
        conn.invalidate_cache()
    # after the self-checks: a violating generation must never be
    # baked into a compacted full index
    if index_mode == "delta":
        _maybe_autocompact(conn, token, var, compact_every)


def write(
    conn: Connection,
    token: Mapping[str, Any],
    writes: Mapping[str, Sequence[Slab]],
    index_mode: str = "full",
    compact_every: int | None = None,
) -> None:
    """Write slabs for several variables under one in-flight version
    (mandoline.clj:280-290)."""
    for var, slabs in writes.items():
        write_variable(
            conn, token, var, slabs,
            index_mode=index_mode, compact_every=compact_every,
        )
