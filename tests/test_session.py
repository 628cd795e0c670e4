"""Session defaults that depend on the host."""

import os

from lib_gdal_spark import session as S
from lib_gdal_spark.session import default_master


def test_default_master_uses_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_master() == f"local[{len(os.sched_getaffinity(0))}]"


def test_default_master_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_master() == "local[3]"


def test_default_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert S.default_driver_memory() == "3g"


def test_default_driver_memory_is_half_the_cgroup_limit(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    monkeypatch.setattr(S, "CGROUP_MEMORY_LIMITS", (str(v2), str(v1)))
    v2.write_text("2147483648\n")
    assert S.default_driver_memory() == "1024m"
    # "max" is no limit; the v1 file still counts
    v2.write_text("max\n")
    v1.write_text("1073741824\n")
    assert S.default_driver_memory() == "512m"


def test_default_driver_memory_caps_at_8g(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(S, "CGROUP_MEMORY_LIMITS", (str(tmp_path / "none"),))
    monkeypatch.setattr(S.os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 64 << 18}[name])  # 64 GiB
    assert S.default_driver_memory() == "8192m"
    monkeypatch.setattr(S.os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 6 << 18}[name])  # 6 GiB
    assert S.default_driver_memory() == "3072m"
