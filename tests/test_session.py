"""Session defaults that need no JVM to check."""

from __future__ import annotations

import pytest

from sfa_spark import session


@pytest.mark.parametrize(
    ("phys_gib", "want"),
    [(1, "1g"), (4, "2g"), (15.6, "7g"), (16, "8g"), (96, "48g"), (512, "48g")],
)
def test_default_driver_memory_is_half_physical_capped(monkeypatch, phys_gib, want):
    page = 4096
    pages = int(phys_gib * 2**30) // page
    values = {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": page}
    monkeypatch.setattr(session.os, "sysconf", values.__getitem__)
    assert session.default_driver_memory() == want


def test_default_driver_memory_without_sysconf(monkeypatch):
    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unsupported)
    assert session.default_driver_memory() == "1g"
