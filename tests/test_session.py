"""Session factory defaults."""

from __future__ import annotations

import os

from eventanalysis_spark import session
from eventanalysis_spark.session import host_defaults


def test_host_defaults_fit_the_host(monkeypatch):
    """Without overrides, local mode gets one slot per usable core and a
    driver heap of at most a quarter of the host's RAM; the env vars
    override both."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    cpus, mem = host_defaults()
    assert 1 <= int(cpus) <= len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    assert mem.endswith("g") and 1 <= int(mem[:-1]) <= max(1, ram_gb / 4)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert host_defaults() == ("3", "2g")


def test_host_defaults_without_affinity_call(monkeypatch, tmp_path):
    """Where the OS has no CPU-affinity call, the core count falls back to
    os.cpu_count()."""
    monkeypatch.setattr(session, "CGROUP_ROOT", str(tmp_path))
    monkeypatch.delattr(os, "sched_getaffinity", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 5)
    assert session.usable_cpus() == 5


def test_host_defaults_follow_cgroup_limits(monkeypatch, tmp_path):
    """A cgroup CPU quota and memory limit (v2 files, or v1 files when no
    v2 file exists) cap the cores and the driver heap; 'max' and -1 mean
    no limit."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "CGROUP_ROOT", str(tmp_path))
    monkeypatch.setattr(os, "sched_getaffinity", lambda _pid: set(range(64)), raising=False)
    monkeypatch.setattr(os, "sysconf", {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 2**25}.get)
    assert host_defaults() == ("64", "32g")  # 128 GB host, no cgroup files
    (tmp_path / "cpu").mkdir()
    (tmp_path / "memory").mkdir()
    (tmp_path / "cpu" / "cpu.cfs_quota_us").write_text("-1\n")
    (tmp_path / "cpu" / "cpu.cfs_period_us").write_text("100000\n")
    (tmp_path / "memory" / "memory.limit_in_bytes").write_text(f"{9 * 2**30}\n")
    assert host_defaults() == ("64", "2g")
    (tmp_path / "cpu" / "cpu.cfs_quota_us").write_text("250000\n")
    assert host_defaults() == ("3", "2g")
    (tmp_path / "cpu.max").write_text("max 100000\n")
    (tmp_path / "memory.max").write_text("max\n")
    assert host_defaults() == ("64", "32g")
    (tmp_path / "cpu.max").write_text("150000 100000\n")
    (tmp_path / "memory.max").write_text(f"{3 * 2**30}\n")
    assert host_defaults() == ("2", "1g")
