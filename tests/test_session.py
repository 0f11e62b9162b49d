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


def test_partest_plan_is_sized_from_host():
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "tools" / "partest.py"
    spec = importlib.util.spec_from_file_location("partest", path)
    partest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(partest)
    # (cores, half of memory in GiB) -> (workers, cores each, GiB each)
    assert partest.host_plan(4, 7) == (2, 2, 3)
    assert partest.host_plan(32, 64) == (8, 4, 8)
    assert partest.host_plan(1, 1) == (1, 1, 1)
    assert partest.host_plan(64, 3) == (1, 64, 3)
    # -jN splits the host N ways
    assert partest.host_plan(4, 7, workers=4) == (4, 1, 1)
