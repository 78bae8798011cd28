"""Dataset catalog, version commit log, and MVCC semantics on Parquet.

Physical layout (one directory per dataset under a store root):

    <root>/<dataset>/
        versions/<version_id>.json   one file per committed version
                                     (content = metadata token JSON)
        index/v=<vid>/var=<name>/g=<gen>/
                                     Parquet: (ckey string,
                                     c0..c{n-1} int, chunk_hash string).
                                     A generation is either a FULL
                                     copy-forward index or a DELTA
                                     (only coords one job wrote, marked
                                     by a _DELTA file); readers overlay
                                     deltas on the newest full gen,
                                     last writer wins
        chunks/                      Parquet: (hash string, blob binary,
                                     nbytes long), content-addressed

Semantics mirrored from the reference:
- commit = single metadata write; "second committer to the same parent
  fails" (mandoline.clj:292-310, linear_versions.clj:61-67).  The
  commit POINT is the exclusive create of a latch named by the PARENT
  (``versions/n<parent>.json``, full token as content): version ids
  are per-writer timestamps, so an id-named create alone cannot
  arbitrate two children of one parent — the reference admits exactly
  that window on its file backend and closes it only on DynamoDB's
  conditional put.  A parent-named latch closes it on ANY backend with
  a conditional create (O_EXCL, HDFS overwrite=false, S3
  ``If-None-Match``), stale listings included: the check-then-create
  race collapses into the create.  ``versions/<vid>.json`` remains as
  the id-named MIRROR so hot paths list ids from one listdir; a
  committer dying between latch and mirror leaves one repairable
  orphan (see ``_repair_unmirrored``).
- uncommitted writes are invisible: readers resolve versions only
  through ``versions/*.json`` (failed_ingest.clj:26-150).
- version listing reverse-chronological, nth-version with negative
  indexing, timestamp→version = latest version ≤ ts
  (mandoline.clj:76-141, impl.clj:53-75).

Scale notes: a full copy-forward index keeps reads O(request) (no
fallback walk over version history) at the cost of O(chunk-count) rows
per commit; rows are just (coord, 40-byte hash) so even a 100 TB /
~2e9-chunk dataset is a ~100 GB Parquet index that Spark writes in one
shuffle-free job and prunes by the c0..cK columns.  When commits must
be O(touched chunks) instead — frequent small writes into a huge
dataset — writers pass ``index_mode="delta"`` and periodically run
``maintenance.compact_index`` to collapse the read-time overlay chain
back to one full generation.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Iterable, Mapping, NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import fs as fsmod
from .core import metadata as md

# dots allowed INSIDE names, but a name may not BE dots: "." / ".."
# resolve to the root itself / its parent on path-based backends —
# create would traverse out of the store and destroy could rmtree the
# parent (caught by the MemFS backend parameterization, r8: LocalFS
# only rejected ".." by accident, via the parent dir "already
# existing")
_NAME_RE = re.compile(r"^(?!\.+$)[A-Za-z0-9_.-]+$")


# -- table schemas: declared on every Spark read of the engine's own
# tables, so no read launches a footer-inference job --------------------


def _coord_cols(ndim: int) -> list[str]:
    return [f"c{i}" for i in range(ndim)]


def index_schema(ndim: int) -> T.StructType:
    fields = [T.StructField("ckey", T.StringType(), False)]
    fields += [T.StructField(c, T.IntegerType(), False) for c in _coord_cols(ndim)]
    fields.append(T.StructField("chunk_hash", T.StringType(), False))
    return T.StructType(fields)


def _index_gen_schema(ndim: int) -> T.StructType:
    """Columns of a committed index generation: :func:`index_schema`
    plus the ``wb`` mask column (``writer._WB_TYPE``).  A generation
    written before masks existed has no ``wb``; read under this schema
    it comes back null, the wholesale value."""
    return T.StructType(
        list(index_schema(ndim).fields)
        + [T.StructField("wb", T.ArrayType(T.IntegerType()), True)]
    )


CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("hash", T.StringType(), False),
        T.StructField("blob", T.BinaryType(), False),
        T.StructField("nbytes", T.LongType(), False),
    ]
)


def parse_uri(uri: str) -> tuple[str, str, int | None]:
    """``mand://<store-root>/<dataset>[#<version>]`` → (root, dataset,
    version | None) — the engine's dataset-spec syntax, mirroring the
    reference's ``ddb://root/name`` parsing and backend alias resolution
    (impl.clj:34-51, 77-119; one Parquet backend here, so the scheme
    carries no backend choice).  The optional fragment pins a version
    for time travel."""
    m = re.match(r"^mand://(?P<path>/?.+?)/(?P<ds>[A-Za-z0-9_.-]+)"
                 r"(?:#(?P<v>-?\d+))?$", uri)
    if not m:
        raise ValueError(f"invalid dataset URI: {uri!r}")
    version = m.group("v")
    return (
        m.group("path"),
        m.group("ds"),
        int(version) if version is not None else None,
    )


def connect_uri(spark: SparkSession, uri: str) -> "Connection":
    """Open a dataset by URI (the catalog entry point the reference's
    `(mandoline/dataset-reader spec)` flow starts from)."""
    root, ds, _ = parse_uri(uri)
    return Store(spark, root).connect(ds)


def resume_writer(
    spark: SparkSession, token_str: str
) -> tuple["Connection", dict]:
    """Rehydrate a writer serialized by :meth:`Connection.writer_token`
    in a DIFFERENT process/driver (the reference's
    ``token->dataset-writer``, mandoline.clj:168-176): returns the
    (connection, in-flight version token) pair, ready for
    ``writer.write_pieces`` / ``finish_version``."""
    d = json.loads(token_str)
    return connect_uri(spark, d["uri"]), md.parse_metadata(d["token"])


class VersionConflict(Exception):
    """Another writer committed against the same parent first."""


class DriverTier(NamedTuple):
    """What a job-free driver tier may read of a local store
    (:meth:`Connection.driver_tier`)."""

    chunks: list[str] | None  # chunk files ([] empty table; None unasked)
    index: dict[str, list[str]]  # generation dir → its files, as asked
    rows: int  # footer row total of the ``index`` files


@dataclass
class Store:
    """Catalog of datasets under a root directory or filesystem URI
    (Schema protocol semantics, protocol.clj:105-123).  Plain roots use
    POSIX calls; ``hdfs://``/``s3a://``/``file:/`` roots route every
    catalog operation through the Hadoop FileSystem client — the same
    client the Parquet data path already uses — so the catalog works
    wherever the data lives (the reference's pluggable store backends,
    impl.clj:77-119)."""

    spark: SparkSession
    root: str
    fs: Any = None

    def __post_init__(self):
        if self.fs is None:
            self.fs = fsmod.for_path(self.spark, self.root)

    def create_dataset(self, name: str) -> "Connection":
        if not _NAME_RE.match(name):
            raise ValueError(f"invalid dataset name: {name!r}")
        path = os.path.join(self.root, name)
        if self.fs.exists(path):
            raise ValueError(f"dataset already exists: {name}")
        self.fs.makedirs(os.path.join(path, "versions"))
        self.fs.makedirs(os.path.join(path, "index"))
        self.fs.makedirs(os.path.join(path, "chunks"))
        # makedirs is idempotent on every backend, so two racing
        # creators would both succeed and both believe they won; the
        # exclusive marker is the arbiter — exactly one create returns
        # (the reference's concurrent-create contract, test/protocol/
        # schema.clj:145-182).  The loser raises without deleting
        # anything: the directories are the winner's.
        if not self.fs.create_exclusive(os.path.join(path, ".created"), ""):
            raise ValueError(f"dataset already exists: {name}")
        return self.connect(name)

    def connect_or_create(self, name: str) -> "Connection":
        """Connect to ``name``, creating it if absent — race-safe: two
        importers can both see the dataset absent and race into
        create_dataset; the loser of the exclusive-marker arbitration
        falls back to connect instead of surfacing 'already exists'."""
        if not _NAME_RE.match(name):
            raise ValueError(f"invalid dataset name: {name!r}")
        if self.dataset_exists(name):
            return self.connect(name)
        try:
            return self.create_dataset(name)
        except ValueError:
            return self.connect(name)  # lost the create race

    def destroy_dataset(self, name: str) -> None:
        """Idempotent (protocol.clj:111-116)."""
        self.fs.rmtree(os.path.join(self.root, name))

    def list_datasets(self) -> list[str]:
        if not self.fs.isdir(self.root):
            return []
        return sorted(
            d
            for d in self.fs.listdir(self.root)
            if self.fs.isdir(os.path.join(self.root, d, "versions"))
        )

    def dataset_exists(self, name: str) -> bool:
        return name in self.list_datasets()

    def connect(self, name: str, cache_reads: bool = False) -> "Connection":
        path = os.path.join(self.root, name)
        if not self.fs.isdir(os.path.join(path, "versions")):
            raise ValueError(f"no such dataset: {name}")
        return Connection(
            self.spark, path, name, cache_reads=cache_reads, fs=self.fs
        )


@dataclass
class Connection:
    """Per-dataset handle (Connection protocol, protocol.clj:44-103).

    On a LOCAL store, small-route reads resolve the index and fetch the
    chunk blobs with pyarrow on the driver — zero Spark jobs — whenever
    the index and the chunk table fit the driver caps below, whatever
    ``cache_reads`` says; other backends and over-cap tables read
    through Spark.

    ``cache_reads`` adds memoization only — the Spark shape of the
    reference's read-through chunk/index caches (CachingChunkStore /
    CachingIndex, cache.clj:9-14, 87-113 — "most queries are dominated
    by requests for the same chunk"): a blob LRU, a coord→hash map per
    (version, var), and memoized ``.cache()``d table DataFrames, so
    repeated slice reads skip the fetch altogether.  A cache-off
    connection memoizes nothing and sees every commit on its next
    read.  Safe for readers; writers invalidate on append (the
    reference's write-back index cache is deliberately NOT reproduced —
    it was disabled for its lost-update bug, impl.clj:144-156)."""

    spark: SparkSession
    path: str
    name: str
    cache_reads: bool = False
    fs: Any = None
    _df_cache: dict = field(default_factory=dict, repr=False)
    # driver-side read-through caches (reference wrapper stack,
    # impl.clj:127-162): an LRU of raw chunk blobs (CachingChunkStore,
    # cache.clj:83-113, default 1000 entries) and a coord→hash map per
    # (version, var) (read-only CachingIndex — safe; the write-back
    # variant is deliberately not reproduced).  Only consulted when
    # ``cache_reads`` is on; invalidated with the table caches.
    _blob_lru: dict = field(default_factory=dict, repr=False)
    _index_map_cache: dict = field(default_factory=dict, repr=False)
    blob_lru_size: int = 1000
    # The two driver-tier caps, compared in one place only:
    # :meth:`driver_tier`, the gate every job-free tier asks (reads and
    # the cached index map, writer.write_variable's driver write,
    # maintenance.vacuum's chunk pass, ingest's duplicate check).
    # Index cap: the index generations a tier reads may hold at most
    # this many rows by their footers (vacuum sums every committed
    # version's own generations); above it the index resolves on Spark.
    index_map_max_entries: int = 2_000_000
    # Chunk cap: blobs are read with pyarrow on the driver (zero Spark
    # jobs) while the LOCAL chunk table's on-disk footprint is within
    # this bound; above it they go through the Spark scan.  Measured
    # per call, never memoized, so a table that grew past the bound is
    # never fetched on a stale size.
    blob_local_fetch_max_bytes: int = 256 << 20
    # Serializes the driver-side cache mutations (blob LRU eviction,
    # index-map memo): one Connection is routinely shared by
    # concurrent reader threads (the bench's concurrent8 run, any
    # multi-threaded driver), and the LRU's read-then-evict sequence
    # is not atomic under the GIL.  Guards dict bookkeeping only —
    # Spark actions and pyarrow reads run outside it.
    _cache_lock: object = field(default_factory=threading.Lock, repr=False)
    # Invalidation epoch: bumped (under the lock) by invalidate_cache.
    # A reader computing a memoized value captures the epoch FIRST and
    # inserts only if it is unchanged — otherwise a writer's
    # invalidation landing mid-compute would be undone by the insert
    # and the stale map/DataFrame served indefinitely (r11 review).
    _cache_epoch: int = field(default=0, repr=False)

    def __post_init__(self):
        if self.fs is None:
            self.fs = fsmod.for_path(self.spark, self.path)

    # -- version log ---------------------------------------------------------

    def _versions_dir(self) -> str:
        return os.path.join(self.path, "versions")

    @staticmethod
    def _mirror_ids(names: list[str]) -> list[int]:
        return [
            int(fn[:-5])
            for fn in names
            if fn.endswith(".json") and fn[:-5].isdigit()
        ]

    def _repair_unmirrored(self, names: list[str]) -> bool:
        """Publish the id-named mirror of a commit whose committer died
        between the latch create and the mirror write.  At most ONE
        such orphan can exist: its latch is named by the then-visible
        tip, so every later commit attempt fails the latch until the
        mirror appears — history cannot advance past it.  Detection is
        by EXISTENCE, not count arithmetic: a latch named by the
        current tip (``n<max mirrored id>.json``, or ``n0.json`` on an
        empty history) whose child mirror is missing IS the orphan.
        Counting latches against mirrors (the r10 shape) went blind on
        datasets carrying pre-latch commits — mirrors without latches
        skew the arithmetic, so a dead committer's version stayed
        invisible to a read-only workload indefinitely (r10 ADVICE).
        The one extra read happens only while a tip-named latch exists
        (an in-flight commit's two-create window, or the orphan
        itself).  The mirror write is an atomic-content exclusive
        create, so racing repairers — or the resurrected committer —
        collapse to one winner."""
        vids = self._mirror_ids(names)
        tip_latch = f"n{max(vids) if vids else 0}.json"
        if tip_latch not in names:
            return False
        d = self._versions_dir()
        try:
            body = self.fs.read_text(os.path.join(d, tip_latch))
        except OSError:
            return False
        vid = md.parse_metadata(body)["version-id"]
        if f"{vid}.json" in names:
            # The tip-named latch's vid is ALREADY mirrored, yet the
            # tip did not advance past the latch's parent.  Because
            # {vid}.json is in THIS listing, vid <= max(vids) = the
            # latch's parent by construction — so this is either a
            # version-id collision from a dead pre-floor committer
            # (live committers are floored past their parent by
            # metadata.new_version(after=...)), or a COMPLETED
            # pre-floor commit whose child id sorted below its parent,
            # leaving its latch as residue that wedges the commit
            # point.  Both are safely deletable — the occupying child
            # never advanced the id-ordered tip, so reopening the
            # commit point just lets history resume from the parent —
            # but only delete after a SUCCESSFUL occupant read (r11
            # ADVICE): an unreadable mirror means the collision cannot
            # be classified at all, and a wedged-but-intact latch is
            # recoverable where a wrongly deleted one is not.
            try:
                self.fs.read_text(os.path.join(d, f"{vid}.json"))
            except OSError:
                return False
            try:
                self.fs.rmtree(os.path.join(d, tip_latch))
            except OSError:
                return False
            return True
        self.fs.create_exclusive(os.path.join(d, f"{vid}.json"), body)
        return True

    def versions(self) -> list[tuple[int, dict]]:
        """Committed (version_id, token) pairs, newest first."""
        names = self.fs.listdir(self._versions_dir())
        if self._repair_unmirrored(names):
            names = self.fs.listdir(self._versions_dir())
        out = []
        for fn in names:
            if fn.endswith(".json") and fn[:-5].isdigit():
                token = md.parse_metadata(
                    self.fs.read_text(
                        os.path.join(self._versions_dir(), fn)
                    )
                )
                out.append((int(fn[:-5]), token))
        out.sort(key=lambda kv: kv[0], reverse=True)
        return out

    def version_ids(self) -> list[int]:
        """Committed ids, newest first — from the FILENAMES alone (the
        id IS the mirror's name), so the hot paths (every commit
        conflict check, every version fallback walk) cost one listdir,
        not O(history) file reads + JSON parses on a remote store.
        The same listing detects a missing mirror (dead committer) and
        triggers the one-read repair."""
        names = self.fs.listdir(self._versions_dir())
        if self._repair_unmirrored(names):
            names = self.fs.listdir(self._versions_dir())
        ids = self._mirror_ids(names)
        ids.sort(reverse=True)
        return ids

    def last_version(self) -> int | None:
        ids = self.version_ids()
        return ids[0] if ids else None

    def nth_version(self, n: int) -> int:
        """0 = oldest; negative = from the end (-1 = newest), matching
        the reference's nth-version (impl.clj:53-75)."""
        ids = sorted(self.version_ids())
        return ids[n]

    def timestamp_to_version(self, ts_millis: int) -> int:
        """Latest committed version with id ≤ ts (time travel)."""
        ids = [v for v in self.version_ids() if v <= ts_millis]
        if not ids:
            raise ValueError(f"no version at or before {ts_millis}")
        return max(ids)

    def metadata(self, version: int | None = None) -> dict:
        vid = self.last_version() if version is None else version
        if vid is None:
            raise ValueError("dataset has no committed versions")
        fp = os.path.join(self._versions_dir(), f"{vid}.json")
        if not self.fs.exists(fp):
            raise ValueError(f"no such committed version: {vid}")
        return md.parse_metadata(self.fs.read_text(fp))

    # -- version lifecycle ---------------------------------------------------

    def add_version(self, metadata: Mapping[str, Any]) -> dict:
        """Begin a new version atop the last committed one
        (mandoline.clj:143-158): validate, inherit, stamp version-id.
        Returns the writer token."""
        last = self.last_version()
        if last is None:
            md.validate_dataset_definition(metadata)
            token = md.create(metadata)
        else:
            # inherit FIRST: a child omitting chunk-dimensions inherits
            # the parent's (dataset.clj:88-110); validating the raw
            # child before the defaulting would reject that documented
            # form.  The inherited result is then fully validated.
            token = md.inherit(dict(metadata), self.metadata(last))
            md.validate_dataset_definition(token)
        token = md.new_version(token, after=last)
        return token

    def writer_token(self, token: Mapping[str, Any]) -> str:
        """Serialize an in-flight writer to a portable string — the
        reference's ``dataset-writer->token`` (mandoline.clj:160-176):
        a coordinator starts a version, hands the token string to any
        number of OTHER processes (separate Spark drivers entirely),
        each resumes with :func:`resume_writer`, writes its shard of
        pieces, and any one of them commits with ``finish_version``.
        The string carries the dataset URI plus the version token, so
        it crosses process/host boundaries as plain text."""
        return json.dumps(
            {
                "uri": f"mand://{self.path}",
                "token": md.generate_metadata(dict(token)),
            }
        )

    def finish_version(self, token: Mapping[str, Any]) -> int:
        """Commit: succeeds iff the token's parent is still the last
        committed version (optimistic concurrency,
        mandoline.clj:292-310 / linear_versions.clj:61-67).  The
        commit point is the exclusive create of the PARENT-named latch
        ``n<parent>.json``: only one child of a given parent can ever
        create it, so second-committer-fails holds atomically on any
        conditional-create backend — even when the ``last_version``
        pre-check ran against a stale (object-store, list-after-write
        lagged) listing.  The reference admits this race on its file
        backend and closes it only via DynamoDB's conditional put; the
        latch closes it everywhere.  The id-named mirror written after
        the latch serves the one-listdir hot paths and is repairable
        if this committer dies first (``_repair_unmirrored``)."""
        vid = token["version-id"]
        parent = token.get("parent")
        if self.last_version() != parent:
            raise VersionConflict(
                f"parent {parent} is no longer the last "
                f"committed version ({self.last_version()})"
            )
        # Version ids must strictly advance past the parent: the tip is
        # max(ids), so committing vid <= parent would never move it —
        # and worse, the latch this commit is about to create would be
        # a permanently unrepairable orphan (its mirror name is already
        # taken by the parent's own mirror), wedging every future
        # commit.  add_version floors fresh tokens past the parent
        # (metadata.new_version(after=...)); this guard catches tokens
        # stamped by pre-floor code or hand-built across skewed clocks,
        # and fails BEFORE any latch exists so a restamped retry goes
        # through cleanly.
        if parent is not None and vid <= parent:
            raise VersionConflict(
                f"version id {vid} does not advance past parent "
                f"{parent} (cross-process same-millisecond stamp or "
                "clock skew); restamp via add_version and retry"
            )
        # Cross-writer same-chunk reconcile: concurrent shard jobs that
        # interleaved writes INSIDE one chunk left masked (written-box)
        # index rows; merge them cell-correct before this version
        # becomes visible, so committed versions always resolve to one
        # winning blob per chunk (the invariant every read/compact/diff
        # consumer assumes).  Pure fs-metadata no-op when no generation
        # carries a mask marker.  Mirrors the reference's update-chunk!
        # CAS merge (impl.clj:246-278) at commit time instead of
        # per-chunk write time.
        from . import writer as _writer

        _writer.reconcile_version(self, token)
        d = self._versions_dir()
        body = md.generate_metadata(dict(token))
        latch = os.path.join(d, f"n{parent if parent is not None else 0}.json")
        if not self.fs.create_exclusive(latch, body):
            # event-driven repair: the existing latch may be a dead
            # committer's orphan (latch written, mirror not).  Reading
            # it and re-publishing the mirror is idempotent and makes
            # the winning commit visible, so this loser's caller can
            # rebase onto it — covers histories where the count
            # heuristic in _repair_unmirrored cannot see the orphan
            # (datasets carrying pre-latch commits).
            try:
                won = self.fs.read_text(latch)
                wvid = md.parse_metadata(won)["version-id"]
                self.fs.create_exclusive(
                    os.path.join(d, f"{wvid}.json"), won
                )
            except OSError:
                pass
            raise VersionConflict(
                f"a version atop parent {parent} is already committed "
                f"(version {vid} loses the race)"
            )
        # the mirror: a second create of the same name is benign ONLY
        # when it holds this commit's bytes (a repairer racing this
        # committer republishes the latch body verbatim).  Any other
        # occupant is a version-id collision — two cross-process
        # writers committing DIFFERENT parents inside one
        # epoch-millisecond stamp the same vid (new_version's bump
        # counter is per-process), and before this check the second
        # commit "succeeded" while its mirror silently carried the
        # other writer's token (r10 ADVICE).
        mirror = os.path.join(d, f"{vid}.json")
        if not self.fs.create_exclusive(mirror, body):
            # Read the occupant to classify the collision.  A transient
            # read failure must NOT be conflated with "foreign occupant"
            # (r11 ADVICE): the occupant may hold THIS commit's body —
            # a repairer racing us republished the latch verbatim — and
            # deleting the latch then reports a VISIBLE commit as
            # failed while removing parent's sole fork guard.  Retry
            # the read; if it never succeeds, raise without touching
            # the latch (wedged-but-safe, the pre-collision-latch
            # behavior) rather than guess.
            occupant = None
            read_ok = False
            for _ in range(5):
                try:
                    occupant = self.fs.read_text(mirror)
                    read_ok = True
                    break
                except OSError:
                    time.sleep(0.02)
            if not read_ok:
                raise VersionConflict(
                    f"version id {vid}'s mirror exists but is unreadable; "
                    "cannot classify the collision — retry the commit "
                    "(latch left in place)"
                )
            if occupant != body:
                # abort: roll the latch back first so the dataset does
                # not wedge (a latch whose mirror name is permanently
                # occupied by foreign bytes can never be repaired — the
                # repairer's exclusive mirror create always fails).  A
                # racing repairer cannot have published OUR body under
                # this name (it is occupied), so no reader can have
                # observed this commit as visible; deleting the latch
                # merely reopens the commit point for a sibling.
                try:
                    self.fs.rmtree(latch)
                except OSError:
                    pass
                raise VersionConflict(
                    f"version id {vid} already names a different commit "
                    "(cross-process id collision); retry the commit"
                )
        return vid

    # -- physical table handles ----------------------------------------------

    def chunks_path(self) -> str:
        """Active chunk-table directory.  Normally ``<path>/chunks``;
        after a :func:`mandoline_spark.maintenance.vacuum` a pointer
        file ``<path>/CHUNKS`` names the live generation instead —
        vacuum writes the surviving blobs BESIDE the old directory and
        flips the pointer, so a concurrent reader never observes a
        moment with no chunk directory at all (the r2 rename-swap
        window)."""
        ptr = os.path.join(self.path, "CHUNKS")
        try:
            if self.fs.exists(ptr):
                return os.path.join(
                    self.path, self.fs.read_text(ptr).strip()
                )
        except OSError:
            pass  # pointer mid-flip (Hadoop delete+rename): fall through
        default = os.path.join(self.path, "chunks")
        if self.fs.isdir(default):
            return default
        # pointer absent mid-flip after an earlier vacuum already
        # removed the default dir: newest surviving generation wins
        gens = [
            d
            for d in self.fs.listdir(self.path)
            if d.startswith("chunks.g")
        ]
        if gens:
            return os.path.join(
                self.path, max(gens, key=lambda d: int(d.rsplit(".g", 1)[1]))
            )
        return default

    def index_path(self, version: int, var: str, gen: int | None = None) -> str:
        base = os.path.join(self.path, "index", f"v={version}", f"var={var}")
        return base if gen is None else os.path.join(base, f"g={gen}")

    def index_gens(self, version: int, var: str) -> list[int]:
        """Index generations for (version, var), ascending.  A write job
        appends a new immutable generation: either a complete
        copy-forward index (``full``) or, for large datasets where
        commits must be O(touched chunks) not O(total chunks), only the
        coordinates it wrote (``delta``, marked by a ``_DELTA`` file the
        Parquet readers ignore).  Resolution merges the newest full
        generation with every later delta, last writer wins;
        :func:`mandoline_spark.maintenance.compact_index` re-materializes
        a full generation to bound the chain."""
        base = self.index_path(version, var)
        if not self.fs.isdir(base):
            return []
        gens = []
        for d in self.fs.listdir(base):
            if d.startswith("g=") and _has_parquet(
                self.fs, os.path.join(base, d)
            ):
                gens.append(int(d[2:]))
        return sorted(gens)

    def index_gen_is_delta(self, version: int, var: str, gen: int) -> bool:
        return self.fs.exists(
            os.path.join(self.index_path(version, var, gen), "_DELTA")
        )

    def _maybe_cached(
        self,
        key: tuple,
        path: str,
        schema: T.StructType | None,
        recursive: bool = False,
    ) -> DataFrame:
        # a declared schema keeps the read job-free: without one, Spark
        # infers it from a footer in a one-task job
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if recursive:
            # chunk batches land in per-job subdirectories (concurrent
            # writers cannot share one append's _temporary staging);
            # recursive lookup reads the whole tree, flat legacy
            # layouts included
            reader = reader.option("recursiveFileLookup", "true")
        if not self.cache_reads:
            return reader.parquet(path)
        with self._cache_lock:
            hit = self._df_cache.get(key)
            epoch = self._cache_epoch
        if hit is not None:
            return hit
        # Build the plain frame OUTSIDE the lock (the relation lists
        # files), but mark it cached only under the lock and only
        # if no invalidation landed mid-construction.  Never .cache()
        # first and unpersist on mismatch: Spark's CacheManager matches
        # by LOGICAL PLAN, so unpersisting our stale same-plan frame
        # would also uncache a fresh frame another thread legitimately
        # memoized for the same path (r12 review) — and never return a
        # cached-but-unmemoized frame either, which nothing would ever
        # unpersist (r11 ADVICE).
        plain = reader.parquet(path)
        with self._cache_lock:
            if self._cache_epoch == epoch:
                hit = self._df_cache.get(key)
                if hit is not None:
                    return hit
                df = plain.cache()  # metadata-only persist mark; no I/O
                self._df_cache[key] = df
                return df
        # invalidated mid-construction: `plain`'s file-list snapshot
        # predates the writer's invalidation — rebuild AFTER observing
        # the bump so the frame sees the post-write file set (r12
        # second review pass: returning `plain` served pre-write data
        # to a reader that provably raced a completed write)
        return reader.parquet(path)

    def invalidate_cache(self) -> None:
        """Drop memoized table DataFrames and driver-side read caches
        (called after writes)."""
        with self._cache_lock:
            dropped = list(self._df_cache.values())
            self._df_cache.clear()
            self._blob_lru.clear()
            self._index_map_cache.clear()
            self._cache_epoch += 1
        for df in dropped:  # Spark call outside the lock
            df.unpersist()

    # -- driver-side read-through caches -------------------------------------

    def _local_index_plan(
        self, version: int, var: str, ancestors: bool = True
    ) -> list[tuple[int, int]] | None:
        """Generation application order for the resolved (version, var)
        index — the driver-side mirror of :meth:`resolve_index_df` /
        :meth:`index_df` (version fallback, newest full + later deltas,
        delta-only base pulled from the nearest ancestor, recursively).
        ``ancestors=False`` keeps only the version's own generations (no
        fallback, no ancestor base), as ``index_df`` does with the same
        flag.  Pure fs metadata: no Spark involvement.  None ⇔ no
        version has written the variable."""
        gens = self.index_gens(version, var)
        if not gens:
            if not ancestors:
                return None
            for vid in self.version_ids():  # newest first
                if vid < version and self.index_gens(vid, var):
                    return self._local_index_plan(vid, var)
            return None
        last_full = None
        for g in gens:
            if not self.index_gen_is_delta(version, var, g):
                last_full = g
        if last_full is not None:
            return [(version, g) for g in gens if g >= last_full]
        if not ancestors:
            return [(version, g) for g in gens]
        base: list[tuple[int, int]] = []
        for vid in self.version_ids():  # newest first
            if vid < version and self.index_gens(vid, var):
                base = self._local_index_plan(vid, var) or []
                break
        return base + [(version, g) for g in gens]

    def driver_tier(
        self, gens: Iterable[str] = (), chunks: bool = True, capped: bool = True
    ) -> DriverTier | None:
        """The one gate of the job-free driver tiers (reads, the cached
        index map, driver writes, vacuum, ingest's duplicate check): the
        local files they may read with pyarrow, or None for Spark.

        None on any store but a LOCAL one.  ``chunks`` asks for the
        committed chunk files (``[]`` for an empty table): None when
        they exceed ``blob_local_fetch_max_bytes`` on disk.  ``gens``
        asks for the parquet files of index generation directories and
        their footer row total: None when it exceeds
        ``index_map_max_entries``, unless ``capped`` is off (the total
        is then a bound).  ``gens`` is consumed only on a local store,
        so a lazy plan costs a remote one nothing.  Never memoized."""
        import pyarrow.parquet as pq

        if not isinstance(self.fs, fsmod.LocalFS):
            return None
        files = None
        if chunks:
            files = _local_parquet_files(self.chunks_path())
            if sum(map(os.path.getsize, files)) > self.blob_local_fetch_max_bytes:
                return None
        index = {d: _local_parquet_files(d) for d in gens}
        rows = sum(
            pq.read_metadata(f).num_rows for fl in index.values() for f in fl
        )
        if capped and rows > self.index_map_max_entries:
            return None
        return DriverTier(files, index, rows)

    def _bcast_budget(self) -> int:
        """``spark.mandoline.broadcastIndexBudget`` (bytes, 256 MiB by
        default): the bound on an explicit broadcast, sized at ~1 KiB
        per built row (reader._join_blobs)."""
        try:
            return int(
                self.spark.conf.get(
                    "spark.mandoline.broadcastIndexBudget", str(256 << 20)
                )
            )
        except ValueError:
            return 256 << 20

    def _local_index_map(
        self,
        version: int,
        var: str,
        box: list[tuple[int, int]] | None = None,
    ) -> dict | None:
        """Driver-side index resolution: fold the generation files the
        gate (:meth:`driver_tier`) admits into a dict, in
        :meth:`_local_index_plan` order — ZERO Spark jobs, no
        overlay-plan construction (the Spark resolution costs one job
        plus per-generation relation setup, ~0.3-0.5 s of a cold small
        read at overlay depth 10).  ``box`` (inclusive chunk-coordinate
        bounds per dimension) drops every row outside it before the
        fold, so a small read builds an O(request) map; the overlay is
        per coordinate, so filtering each generation first resolves the
        same winners.  None when no version wrote the variable, or when
        the gate sends the index to Spark."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tier = self.driver_tier(
            (
                self.index_path(v, var, g)
                for v, g in self._local_index_plan(version, var) or ()
            ),
            chunks=False,
        )
        if tier is None or not tier.index:
            return None
        m: dict = {}
        # plan order is application order: later gens overwrite
        for fp in (f for fl in tier.index.values() for f in fl):
            pf = pq.ParquetFile(fp)
            ccols = sorted(
                (
                    c
                    for c in pf.schema_arrow.names
                    if re.match(r"^c\d+$", c)
                ),
                key=lambda c: int(c[1:]),
            )
            tbl = pf.read(columns=ccols + ["chunk_hash"])
            if box is not None:
                for c, (lo, hi) in zip(ccols, box):
                    col = tbl.column(c)
                    tbl = tbl.filter(
                        pc.and_(
                            pc.greater_equal(col, lo), pc.less_equal(col, hi)
                        )
                    )
            cols = [tbl.column(c).to_pylist() for c in ccols]
            keys = zip(*cols) if cols else [()] * tbl.num_rows
            m.update(zip(keys, tbl.column("chunk_hash").to_pylist()))
        return m

    def index_map(
        self,
        version: int,
        var: str,
        box: list[tuple[int, int]] | None = None,
    ) -> dict | None:
        """coord-tuple → chunk hash for the RESOLVED (version, var)
        index, or None when the read should take the Spark path (the
        index exceeds ``index_map_max_entries``, or no version wrote
        the variable).

        Without ``cache_reads`` the map is built job-free on LOCAL
        stores only, restricted to ``box`` (see
        :meth:`_local_index_map`); a read asks first whether its blobs
        can follow job-free (:meth:`_local_chunk_files`), since
        otherwise the Spark read resolves the index inside its own plan
        and a driver map would be wasted work.  With ``cache_reads`` the
        WHOLE map is memoized per (version, var), built locally or by
        one Spark limit-collect."""
        if not self.cache_reads:
            return self._local_index_map(version, var, box)
        key = (version, var)
        with self._cache_lock:
            if key in self._index_map_cache:
                return self._index_map_cache[key]
            epoch = self._cache_epoch
        value = self._compute_index_map(version, var)
        with self._cache_lock:
            # insert only if no invalidation landed mid-compute — a
            # writer's invalidate_cache would otherwise be undone and
            # the pre-write map served indefinitely (r11 review)
            if self._cache_epoch == epoch:
                self._index_map_cache[key] = value
        return value

    def _compute_index_map(self, version: int, var: str) -> dict | None:
        # the gate's index half alone: blobs may still go to Spark
        local = self._local_index_map(version, var)
        if local is not None:
            return local
        idx = self.resolve_index_df(version, var)
        if idx is None:
            return None
        cap = self.index_map_max_entries
        ccols = sorted(
            (c for c in idx.columns if re.match(r"^c\d+$", c)),
            key=lambda c: int(c[1:]),
        )
        # ONE job for both the size probe and the data: collect
        # max+1 rows under a limit — if the limit is hit the index is
        # too big for a driver map (cache the refusal, distributed
        # path takes over).  The former separate limit+count probe
        # doubled the job count of every small-read resolution
        # (~80ms/job of local-mode floor, and a real scheduling
        # round-trip per read on a cluster).  Collected bytes stay
        # bounded: ≤ (max+1) rows of ints + one 40-char hash.
        rows = idx.select(*ccols, "chunk_hash").limit(cap + 1).collect()
        if len(rows) > cap:
            return None
        return {
            tuple(int(row[c]) for c in ccols): row["chunk_hash"]
            for row in rows
        }

    def _local_chunk_files(self) -> list[str] | None:
        """The chunk files a read fetches blobs from on the driver: the
        gate's chunk half (:meth:`driver_tier`) when the table holds
        any.  None sends the read to the Spark scan (remote or
        in-memory catalog, big table, no chunks yet)."""
        tier = self.driver_tier()
        return tier.chunks if tier is not None and tier.chunks else None

    @staticmethod
    def _local_hash_scan(
        files: list[str], hashes: list[str], blobs: bool = True
    ) -> dict:
        """Hash-first scan of local chunk files: each row group's
        ``hash`` column is read on its own, and its ``blob`` column only
        when it holds a wanted hash (and ``blobs`` is set).  pyarrow
        does not consult the Parquet bloom filter and SHA-1 min/max
        statistics prune nothing, so a filtered scan would decompress
        every blob of the table for a one-chunk read.  Returns hash →
        blob (an Arrow binary scalar, or None without ``blobs``) for
        every wanted hash found.  A hash stored twice is the same bytes
        twice (content addressing), so either copy serves."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa
        import pyarrow.compute as pc

        want = pa.array(list(set(hashes)), pa.string())

        def fetch(fp: str) -> list:
            found = []
            for pf, rg, h in _row_group_hashes(fp):
                hit = np.flatnonzero(
                    pc.is_in(h, value_set=want).to_numpy()
                ).tolist()
                if hit and blobs:
                    b = pf.read_row_group(rg, columns=["blob"])["blob"]
                    found += [(h[i], b[i]) for i in hit]
                else:
                    found += [(h[i], None) for i in hit]
            return found

        out: dict = {}
        if not len(want):
            return out
        # files decode in parallel: pyarrow releases the GIL while it
        # reads and decompresses
        workers = max(1, min(len(files), pa.cpu_count()))
        with ThreadPoolExecutor(workers) as pool:
            for found in pool.map(fetch, files):
                for h, b in found:
                    out[h.as_py()] = b
        return out

    @staticmethod
    def _local_blobs(
        files: list[str], hashes: list[str], copy: bool
    ) -> dict | None:
        """Driver-side blob fetch from local chunk files
        (:meth:`_local_hash_scan`).  ``copy`` returns ``bytes`` — what
        the LRU stores, so no cached entry pins a decompressed row
        group; otherwise the values are zero-copy Arrow buffers for an
        immediate paste.  None when a hash is missing (store
        inconsistency; the caller falls back to the Spark scan)."""
        found = Connection._local_hash_scan(files, hashes)
        if len(found) < len(set(hashes)):
            return None
        return {
            h: b.as_py() if copy else b.as_buffer() for h, b in found.items()
        }

    def blobs_for(
        self, hashes: list[str], files: list[str] | None = None
    ) -> dict | None:
        """hash → chunk blob fetched on the driver, or None when the
        read should take the Spark path.

        Without ``cache_reads``: ``files`` is the caller's one
        :meth:`_local_chunk_files` answer — an eligible local chunk
        table is read job-free and the values are zero-copy Arrow
        buffers; None returns None.  With ``cache_reads`` (``files``
        unused): read-through the blob LRU (``bytes``) — hits cost
        nothing, misses are fetched locally when eligible and otherwise
        in one filtered Spark job."""
        if not self.cache_reads:
            if files is None:
                return None
            return self._local_blobs(files, hashes, copy=False)
        out: dict[str, bytes] = {}
        missing = []
        # DISTINCT misses: content addressing dedups identical chunks,
        # so a read of n chunks may carry repeated hashes — counting
        # occurrences instead of distinct keys made the inconsistency
        # check below false-fire and silently pushed every such read
        # off the cached path (latent until a test wrote same-content
        # chunks)
        with self._cache_lock:
            for h in dict.fromkeys(hashes):
                if h in self._blob_lru:
                    # mark recent
                    self._blob_lru[h] = self._blob_lru.pop(h)
                    out[h] = self._blob_lru[h]
                else:
                    missing.append(h)
        if missing:
            files = self._local_chunk_files()
            got = (
                self._local_blobs(files, missing, copy=True)
                if files is not None
                else None
            )
            if got is None:
                chunks = self.chunks_df()
                if chunks is None:
                    return None
                pdf = chunks.filter(chunks.hash.isin(missing)).toPandas()
                got = {
                    r.hash: bytes(r.blob)
                    for r in pdf.itertuples(index=False)
                }
            if len(got) < len(missing):
                return None  # store inconsistency; let caller fall back
            with self._cache_lock:
                for h, b in got.items():
                    out[h] = b
                    self._blob_lru[h] = b
                    while len(self._blob_lru) > self.blob_lru_size:
                        self._blob_lru.pop(next(iter(self._blob_lru)))
        return out

    def chunks_df(self) -> DataFrame | None:
        """(hash, blob, nbytes) or None when no chunks exist yet."""
        path = self.chunks_path()
        if not _has_parquet(self.fs, path):
            return None
        return self._maybe_cached(
            ("chunks", path), path, CHUNK_SCHEMA, recursive=True
        )

    def _index_schema(
        self, version: int, var: str, ndim: int | None = None
    ) -> T.StructType | None:
        """Declared schema of ``var``'s index generations under
        ``version``: from ``ndim`` when the caller holds the variable's
        dimension count (a writer, from its in-flight token), else from
        committed metadata — the version's own token, or for an
        in-flight version the newest committed one below it (its
        parent, whose shape it may not change — ``md.inherit``).  None
        when neither is known (a variable new in an in-flight version,
        or a dataset's first version, read without ``ndim``): the read
        then infers the schema in a one-task job."""
        if ndim is not None:
            return _index_gen_schema(ndim)
        for vid in self.version_ids():  # newest first
            if vid <= version:
                token = self.metadata(vid)
                if var not in token.get("variables", {}):
                    return None
                return _index_gen_schema(
                    len(md.get_variable_dimensions(token, var))
                )
        return None

    def _gen_df(
        self, version: int, var: str, gen: int, ndim: int | None = None
    ) -> DataFrame:
        return self._maybe_cached(
            ("index", version, var, gen),
            self.index_path(version, var, gen),
            self._index_schema(version, var, ndim),
        )

    @staticmethod
    def _overlay(base: DataFrame | None, delta: DataFrame) -> DataFrame:
        """Last-writer-wins merge of a delta onto a base index.  The
        delta side is O(touched chunks) so the anti-join broadcasts it;
        the base is never shuffled.  ``allowMissingColumns``: index
        generations written since the cross-writer mask protocol carry
        a ``wb`` (written-boxes) column that older generations lack —
        a mixed-era overlay fills the missing side with null, which is
        exactly the wholesale semantics an unmasked row has."""
        if base is None:
            return delta
        return delta.unionByName(
            base.join(F.broadcast(delta.select("ckey")), "ckey", "left_anti"),
            allowMissingColumns=True,
        )

    @staticmethod
    def _overlay_stack(
        base: DataFrame | None, deltas: list[tuple[int, DataFrame]]
    ) -> DataFrame | None:
        """Resolve a WHOLE delta chain in one step: the deltas are
        unioned with their generation number, reduced to one winning
        row per coordinate (highest generation — last writer wins) by
        a single aggregation over the O(touched chunks) stack, and the
        base pays ONE broadcast anti-join against the combined key set.

        Chaining :meth:`_overlay` per delta instead nests one broadcast
        anti-join PER generation — d broadcast builds per action, and
        a read path that runs several actions multiplies that again
        (measured super-linear: 0.9s/3.0s/10.4s slice reads at overlay
        depth 1/5/10 on the 8,400-chunk perf shape; this shape is flat
        ~1s at every depth)."""
        if not deltas:
            return base
        if len(deltas) == 1:
            return Connection._overlay(base, deltas[0][1])
        stack = None
        for g, df in deltas:
            tagged = df.withColumn("_g", F.lit(g))
            stack = (
                tagged
                if stack is None
                else stack.unionByName(tagged, allowMissingColumns=True)
            )
        return Connection._overlay(base, Connection._stack_winner(stack, "_g"))

    @staticmethod
    def _stack_winner(stack: DataFrame, gen_col: str) -> DataFrame:
        """One winning row per ckey from a tagged delta stack: highest
        generation wins (last writer)."""
        payload = [c for c in stack.columns if c not in ("ckey", gen_col)]
        return (
            stack.groupBy("ckey")
            .agg(F.max_by(F.struct(*payload), F.col(gen_col)).alias("_w"))
            .select("ckey", *[F.col(f"_w.{c}").alias(c) for c in payload])
        )

    def index_df(
        self,
        version: int,
        var: str,
        ancestors: bool = True,
        ndim: int | None = None,
    ) -> DataFrame | None:
        """Resolved index from this version's own generations: the
        newest full generation overlaid with every later delta.  When
        the version has only delta generations, the base is pulled from
        the nearest ancestor version with an index (its own resolution,
        recursively — compaction keeps these chains short), unless
        ``ancestors`` is False: the frame then holds only the entries
        this version's own generations resolve (vacuum's liveness
        union, where every ancestor is counted under its own row).
        ``ndim``: the variable's dimension count, which a writer passes
        from its token so an in-flight version's frame declares its
        schema (:meth:`_index_schema`).  None when the version never
        wrote the variable."""
        gens = self.index_gens(version, var)
        if not gens:
            return None
        last_full = None
        for g in gens:
            if not self.index_gen_is_delta(version, var, g):
                last_full = g
        if last_full is not None:
            base = self._gen_df(version, var, last_full, ndim)
            deltas = [g for g in gens if g > last_full]
        else:
            base = None
            deltas = gens
        if len(deltas) > 1:
            # One multi-path scan for the whole delta chain: the g=N
            # directory names become a partition column via basePath
            # discovery, so every action pays ONE file listing + footer
            # pass instead of d separate parquet relations (the
            # per-relation shape added ~0.3s per delta per read on the
            # 8,400-chunk perf workload)
            key = ("index-stack", version, var, tuple(deltas))
            with self._cache_lock:
                stack = (
                    self._df_cache.get(key) if self.cache_reads else None
                )
                epoch = self._cache_epoch
            if stack is None:
                reader = self.spark.read.option(
                    "basePath", self.index_path(version, var)
                )
                schema = self._index_schema(version, var, ndim)
                if schema is not None:
                    reader = reader.schema(schema)
                stack = reader.parquet(
                    *[self.index_path(version, var, g) for g in deltas]
                )
                # the g=N dir names must order NUMERICALLY: partition
                # type inference normally yields int, but with
                # partitionColumnTypeInference disabled the column
                # arrives as string and "10" would lose to "9"
                stack = stack.withColumn("g", F.col("g").cast("int"))
                if self.cache_reads:
                    with self._cache_lock:
                        # same discipline as _maybe_cached: mark cached
                        # only under the lock, only on an unchanged
                        # epoch, and never unpersist a stale same-plan
                        # frame (plan-keyed CacheManager would drop a
                        # fresh thread's entry too, r12 review); an
                        # invalidated-mid-construction frame stays
                        # plain and uncached (r11 ADVICE)
                        if self._cache_epoch == epoch:
                            hit = self._df_cache.get(key)
                            stack = (
                                hit
                                if hit is not None
                                else self._df_cache.setdefault(
                                    key, stack.cache()
                                )
                            )
            df = self._overlay(base, self._stack_winner(stack, "g"))
        else:
            df = self._overlay_stack(
                base,
                [(g, self._gen_df(version, var, g, ndim)) for g in deltas],
            )
        if last_full is None and ancestors:
            for vid in self.version_ids():  # newest first
                if vid < version and self.index_gens(vid, var):
                    anc = self.index_df(vid, var, ndim=ndim)
                    if anc is not None:
                        # df holds only this version's deltas here
                        df = df.unionByName(
                            anc.join(
                                F.broadcast(df.select("ckey")),
                                "ckey",
                                "left_anti",
                            ),
                            allowMissingColumns=True,
                        )
                    break
        return df

    def resolve_index_df(self, version: int, var: str) -> DataFrame | None:
        """Index for (version, var) with version fallback: the exact
        version's own index if one exists, else the highest *committed*
        version ≤ ``version`` that has one (mem.clj:45-49 semantics —
        a variable not rewritten in a version reads its most recent
        data; uncommitted versions are invisible, failed_ingest.clj).
        Because history is linear (commit enforces parent == last) the
        committed-ids walk IS the parent chain.

        MIRROR: :meth:`_local_index_plan` re-implements this selection
        driver-side (with :meth:`index_df`'s full/delta/base rules) for
        the job-free local read tier; a semantics change here must land
        there too — test_delta_index pins their equivalence."""
        if self.index_gens(version, var):
            return self.index_df(version, var)
        for vid in self.version_ids():  # newest first
            if vid < version and self.index_gens(vid, var):
                return self.index_df(vid, var)
        return None

    # -- stats (protocol.clj get-stats) ---------------------------------------

    def get_stats(self) -> dict:
        return {
            "metadata-size": self.fs.tree_size(self._versions_dir()),
            "index-size": self.fs.tree_size(os.path.join(self.path, "index")),
            "data-size": self.fs.tree_size(self.chunks_path()),
        }


def _has_parquet(fs, path: str) -> bool:
    """True when the directory (recursively) holds any COMMITTED
    parquet file — the cheap emptiness probe before handing a path to
    the reader.  Underscore/dot-prefixed entries (``_temporary``
    staging, ``_SUCCESS``, hidden files) are skipped with the same rule
    Spark's own readers use: without it, an IN-FLIGHT write's staging
    files would make the generation visible to `index_gens` while
    `spark.read.parquet` still (correctly) sees nothing — a reader
    would resolve an empty or partial index and return fill for data
    that exists."""
    if not fs.isdir(path):
        return False
    for name in fs.listdir(path):
        if name.startswith(("_", ".")):
            continue
        sub = os.path.join(path, name)
        if name.endswith(".parquet"):
            return True
        if fs.isdir(sub) and _has_parquet(fs, sub):
            return True
    return False


def _row_group_hashes(fp: str):
    """Yield (file handle, row-group index, ``hash`` column) for each
    row group of one local chunk file, reading the hash column alone —
    the hash-first scan shared by the driver blob fetch and vacuum's
    driver tier."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(fp) as pf:
        for rg in range(pf.num_row_groups):
            yield pf, rg, pf.read_row_group(rg, columns=["hash"]).column("hash")


def _local_parquet_files(path: str) -> list[str]:
    """Committed parquet files under a LOCAL directory, recursively and
    in name order, skipping underscore/dot-prefixed entries by the rule
    of :func:`_has_parquet` — the one listing rule of local Parquet
    files, shared by the driver-tier gate and the footer statistics of
    ``queries``.  ``[]`` for a missing directory."""
    out: list[str] = []
    try:
        with os.scandir(path) as it:
            entries = sorted(it, key=lambda e: e.name)
    except FileNotFoundError:
        return out
    for e in entries:
        if e.name.startswith(("_", ".")):
            continue
        if e.is_dir():
            out.extend(_local_parquet_files(e.path))
        elif e.name.endswith(".parquet"):
            out.append(e.path)
    return out
