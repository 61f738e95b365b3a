"""Session factory defaults."""

from __future__ import annotations

import os

import pytest

from catlas_spark import session


@pytest.mark.parametrize(
    "ram_gb, heap",
    [(1, "1g"), (4, "1g"), (16, "4g"), (40, "10g"), (1024, "48g")],
)
def test_default_driver_heap_is_a_capped_share_of_ram(monkeypatch, ram_gb, heap):
    """The driver heap defaults to a quarter of physical RAM, at least 1g
    and at most 48g: a fixed heap above the machine's memory lets the
    JVM grow until the OS kills it."""
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (ram_gb << 30) // page}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert session._default_driver_mem() == heap


def test_session_heap_stays_below_physical_ram(spark):
    """Under the default, the running session's heap cap fits in this
    machine's memory."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        pytest.skip("driver heap set explicitly")
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert max_heap < ram
