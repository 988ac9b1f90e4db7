"""Session defaults that depend on the host."""

from __future__ import annotations

import os

import pytest

from cocoindex_data_ingestion_spark import session


@pytest.mark.parametrize("phys, want", [
    (64 << 30, "16384m"),            # a large host: the 16g cap
    (32 << 30, "16384m"),            # half is exactly the cap
    (16_818_483_200, "8019m"),       # a 15.7 GB host: half of it
    (2 << 30, "1024m"),
])
def test_default_driver_memory_is_half_of_ram_capped_at_16g(monkeypatch, phys, want):
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys // page}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    assert session.default_driver_memory() == want
