"""Session defaults that must fit the host; no Spark session is started."""

from __future__ import annotations

import os

from igpm_pem_spark.session import _default_driver_memory


def test_default_driver_memory_fits_the_host(monkeypatch):
    def host(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)

    host(15)
    assert _default_driver_memory().endswith("g")
    assert 1 <= int(_default_driver_memory()[:-1]) <= 12
    host(256)
    assert _default_driver_memory() == "48g"
