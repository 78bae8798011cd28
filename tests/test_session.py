"""Session factory: driver-heap sizing must respect container (cgroup)
limits, not just host MemAvailable (VERDICT r7 #3); the shipped AQE
setting is off, and no engine module writes it."""

from __future__ import annotations

import pathlib
import re

import mandoline_spark
from mandoline_spark.sources.session import (
    _cgroup_limit_gb,
    _default_driver_mem,
)


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
