"""Driver heap sizing of session.get_spark (no JVM started here)."""

import os

from beehive_data_etl_spark import session


def _gib(mem: str) -> float:
    return int(mem[:-1]) / (1024 if mem.endswith("m") else 1)


def test_default_heap_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    mem = session.driver_memory()
    assert mem[-1] in "gm" and _gib(mem) > 0
    phys_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    assert _gib(mem) <= session.MAX_DRIVER_GIB
    assert _gib(mem) <= phys_gib / 5


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "1234m")
    assert session.driver_memory() == "1234m"


def test_heap_is_a_fifth_of_ram_capped(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    for ram_gib, want in ((1024, "16g"), (16, "3g"), (2, "409m")):
        pages = {"SC_PHYS_PAGES": ram_gib * 2**18, "SC_PAGE_SIZE": 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        assert session.driver_memory() == want
