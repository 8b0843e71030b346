"""The session factory's driver-heap default (session.driver_memory)."""

from __future__ import annotations

import os

from cs598vectordb_spark.session import driver_memory, driver_memory_for

GB = 1 << 30


def _mb(value: str) -> int:
    assert value.endswith("m"), value
    return int(value[:-1])


def test_driver_memory_is_half_the_host_capped_below_it(monkeypatch):
    """Half the host's memory, in megabytes, floored at 512 MB and
    capped at 16 GB; from 1 GB up it is always below the host's memory.
    An unknown host size keeps the 16 GB ceiling. SPARK_DRIVER_MEM
    overrides the rule, and without it the default follows this host's
    page count."""
    assert driver_memory_for(16 * GB) == "8192m"
    assert driver_memory_for(2 * GB) == "1024m"
    assert driver_memory_for(64 * GB) == "16384m"
    assert driver_memory_for(GB // 4) == "512m"
    assert driver_memory_for(None) == "16384m"
    assert driver_memory_for(0) == "16384m"
    sizes = [GB, 3 * GB // 2, 4 * GB, 15 * GB + 123_456_789, 31 * GB, 32 * GB, 256 * GB]
    got = [_mb(driver_memory_for(s)) for s in sizes]
    assert got == sorted(got)
    for size, mb in zip(sizes, got):
        assert mb << 20 < size, (size, mb)

    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert driver_memory() == "2g"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert driver_memory() == driver_memory_for(host)
    assert _mb(driver_memory()) << 20 < host
