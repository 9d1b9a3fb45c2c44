"""faiss_spark.session defaults derived from the machine."""

import faiss_spark.session as session

GB = 1 << 30


def _machine(monkeypatch, phys_bytes):
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(session.os, "sysconf", lambda name: sizes[name])


def test_default_driver_memory_is_half_of_physical(monkeypatch):
    _machine(monkeypatch, 15 * GB)
    assert session._default_driver_memory() == f"{15 * 1024 // 2}m"
    _machine(monkeypatch, 4 * GB)
    assert session._default_driver_memory() == "2048m"


def test_default_driver_memory_is_capped_at_16g(monkeypatch):
    _machine(monkeypatch, 256 * GB)
    assert session._default_driver_memory() == "16384m"
