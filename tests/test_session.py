"""Session factory: driver-heap sizing must respect container (cgroup)
limits, not just host MemAvailable (VERDICT r7 #3); the shipped AQE
setting is off, every exchange and spill is zstd, and no engine module
writes either setting."""

from __future__ import annotations

import pathlib
import re

import mandoline_spark
from mandoline_spark.queries import QUERIES
from mandoline_spark.sources.session import (
    _cgroup_limit_gb,
    _default_driver_mem,
)
from tests.test_dedup import SF_DIR


def _meminfo(tmp_path, avail_kb):
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal: {avail_kb * 2} kB\nMemAvailable: {avail_kb} kB\n"
    )
    return str(p)


def test_uncapped_host_uses_meminfo(tmp_path):
    mi = _meminfo(tmp_path, 128 << 20)  # 128 GiB available
    assert _default_driver_mem(mi, cgroup_paths=()) == "12g"
    mi = _meminfo(tmp_path, 2 << 20)  # small host clamps up to 4g
    assert _default_driver_mem(mi, cgroup_paths=()) == "4g"


def test_cgroup_v2_cap_limits_heap(tmp_path):
    """An 8 GiB-capped container on a 128 GiB host must size off the
    cgroup limit: 8//4=2 → clamp to 4g, never the host's 12g."""
    mi = _meminfo(tmp_path, 128 << 20)
    cg = tmp_path / "memory.max"
    cg.write_text(f"{8 << 30}\n")
    assert _default_driver_mem(mi, cgroup_paths=(str(cg),)) == "4g"
    # a 64 GiB cap lands between the clamps
    cg.write_text(f"{64 << 30}\n")
    assert _default_driver_mem(mi, cgroup_paths=(str(cg),)) == "12g"
    cg.write_text(f"{33 << 30}\n")
    assert _default_driver_mem(mi, cgroup_paths=(str(cg),)) == "8g"


def test_cgroup_uncapped_sentinels(tmp_path):
    v2 = tmp_path / "memory.max"
    v2.write_text("max\n")
    assert _cgroup_limit_gb((str(v2),)) is None
    v1 = tmp_path / "memory.limit_in_bytes"
    v1.write_text(f"{1 << 62}\n")  # v1's page-rounded huge sentinel
    assert _cgroup_limit_gb((str(v1),)) is None
    assert _cgroup_limit_gb((str(tmp_path / "missing"),)) is None
    v2.write_text(f"{16 << 30}\n")
    assert _cgroup_limit_gb((str(v2),)) == 16


def test_shipped_session_runs_aqe_off(spark):
    """One AQE setting, off: the factory sets ``adaptive.enabled=false``
    and no other ``spark.sql.adaptive.*`` key (those only act with AQE
    on)."""
    shipped = {
        k: v
        for k, v in spark.sparkContext.getConf().getAll()
        if k.startswith("spark.sql.adaptive.")
    }
    assert shipped == {"spark.sql.adaptive.enabled": "false"}
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"


def test_no_engine_module_sets_adaptive_conf():
    """Operators never write the AQE conf of the caller's session."""
    pat = re.compile(r"conf\.set\(\s*[\"']spark\.sql\.adaptive")
    root = pathlib.Path(mandoline_spark.__file__).parent
    hits = [
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if pat.search(p.read_text())
    ]
    assert hits == []


def test_shipped_session_compresses_exchanges_with_zstd(spark):
    """One codec for every byte Spark moves or spills: the factory sets
    ``spark.io.compression.codec=zstd`` and no other
    ``spark.io.compression.*`` key (the zstd level stays Spark's
    default)."""
    shipped = {
        k: v
        for k, v in spark.sparkContext.getConf().getAll()
        if k.startswith("spark.io.compression.")
    }
    assert shipped == {"spark.io.compression.codec": "zstd"}


def test_no_engine_module_sets_io_compression():
    """Operators never write the exchange codec at runtime."""
    pat = re.compile(r"[\"']spark\.io\.compression")
    root = pathlib.Path(mandoline_spark.__file__).parent
    hits = [
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if p.name != "session.py" and pat.search(p.read_text())
    ]
    assert hits == []


_SPILL_KEYS = (
    "spark.sql.windowExec.buffer.in.memory.threshold",
    "spark.sql.windowExec.buffer.spill.threshold",
)


def _spilled_bytes(spark, group: str) -> int:
    """Memory + disk spill bytes over the stages of ``group``'s jobs,
    read from the status store (works with the UI off)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker = jsc.statusStore(), sc.statusTracker()
    total = 0
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            sd = store.lastStageAttempt(sid)
            total += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return total


def test_window_spill_round_trips_through_the_session_codec(spark):
    """A window whose partition buffers spill to disk (written and read
    back through ``spark.io.compression.codec``) returns the rows of the
    un-spilled run, and its stages report the spill."""
    q = QUERIES["q15_window_lag"]
    expected = q(spark, SF_DIR).collect()
    sc = spark.sparkContext
    saved = {k: spark.conf.get(k, None) for k in _SPILL_KEYS}
    group = "test-window-spill"
    try:
        # Four buffered rows per window partition, then spill: orders
        # has ~15 per customer at sf0.001.  (A threshold of 1 runs the
        # heap out on lz4 and zstd sessions alike.)
        for k in _SPILL_KEYS:
            spark.conf.set(k, "4")
        sc.setJobGroup(group, "window spill round trip")
        got = q(spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == expected
    assert _spilled_bytes(spark, group) > 0
