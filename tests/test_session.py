"""Session factory defaults that depend on the host."""

from __future__ import annotations

import os

from aws_glue_streaming_etl_with_apache_hudi_spark import session


def _host(monkeypatch, total_bytes: int) -> None:
    page = 4096
    names = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": total_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: names[name])


def test_driver_memory_is_half_the_host(monkeypatch):
    _host(monkeypatch, 16 << 30)
    assert session.default_driver_memory() == "8192m"
    _host(monkeypatch, 15_900_000_000)
    assert session.default_driver_memory() == f"{15_900_000_000 // 2 // 2**20}m"


def test_driver_memory_is_capped_at_48g(monkeypatch):
    _host(monkeypatch, 256 << 30)
    assert session.default_driver_memory() == "49152m"

