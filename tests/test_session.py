"""Session defaults follow the host they run on (no session started)."""
import os

import pytest

from cuckoofilter_spark import session


@pytest.mark.parametrize("cpus,phys_gb,mem", [
    (4, 15, "7680m"),      # half of physical memory
    (64, 256, "32768m"),   # capped at 32g
])
def test_defaults_follow_the_host(monkeypatch, cpus, phys_gb, mem):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (phys_gb << 30) // 4096}
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cpus)))
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert session.default_cores() == cpus
    assert session.default_driver_mem() == mem
    # the environment overrides still win
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session.default_cores() == 8
    assert session.default_driver_mem() == "2g"
