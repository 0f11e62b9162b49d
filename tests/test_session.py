"""session.get_spark's host-derived defaults."""

from __future__ import annotations

import os

from mnemo_spark import session


def test_default_driver_mem_is_half_of_host_capped(monkeypatch):
    page = 4096
    for phys_gib, want in ((1, "1g"), (15, "7g"), (32, "16g"), (256, "16g")):
        pages = phys_gib * (1 << 30) // page
        monkeypatch.setattr(
            os, "sysconf",
            lambda name, pages=pages: page if name == "SC_PAGE_SIZE" else pages,
        )
        assert session.default_driver_mem() == want, phys_gib
