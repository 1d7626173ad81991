"""Host-sized ``get_spark`` defaults, pinned without starting a session:
cores from the process's CPU affinity, the driver heap from a share of
physical memory, and both environment overrides kept."""

import os

from review_recommender_spark import session


def _host(monkeypatch, cpus: int, mem_gib: float):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cpus)))
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": int(mem_gib * 2**30) // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


def test_defaults_follow_the_host(monkeypatch):
    _host(monkeypatch, cpus=4, mem_gib=15.6)
    assert session.default_cores() == 4
    assert session.default_driver_memory() == "7g"     # half of 15.6 GiB
    _host(monkeypatch, cpus=96, mem_gib=512)
    assert session.default_cores() == 96
    assert session.default_driver_memory() == "24g"    # the cap
    _host(monkeypatch, cpus=1, mem_gib=1.5)
    assert session.default_driver_memory() == "1g"     # the floor


def test_environment_overrides_win(monkeypatch):
    _host(monkeypatch, cpus=4, mem_gib=15.6)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session.default_cores() == 32
    assert session.default_driver_memory() == "2g"
