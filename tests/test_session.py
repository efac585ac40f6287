"""Session sizing: the default driver heap fits the host it starts on."""

from __future__ import annotations

import os

from python_fastly_log_query_spark import session


def _mb(size: str) -> int:
    units = {"k": 2**-10, "m": 1, "g": 2**10, "t": 2**20}
    return int(float(size[:-1]) * units[size[-1].lower()])


def test_default_heap_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap = session._driver_mem()
    assert 0 < _mb(heap) <= min(ram_mb, 32 * 1024), (heap, ram_mb)
    # -Xms pins the same heap at launch
    assert f"-Xms{heap}" in session._java_opts().split()


def test_driver_mem_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert session._driver_mem() == "6g"
    assert "-Xms6g" in session._java_opts().split()


def test_default_heap_follows_ram_up_to_the_cap(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for ram_gb, heap_mb in ((4, 1024), (15, 3840), (128, 32768), (1024, 32768)):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gb * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        assert _mb(session._driver_mem()) == heap_mb <= ram_gb * 1024
