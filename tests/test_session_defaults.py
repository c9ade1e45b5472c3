"""The driver-heap default (session.py:default_driver_memory), checked
without starting a JVM."""

from __future__ import annotations

import os

from snowflake_stock_dbt_spark.session import default_driver_memory

GIB = 2**30


def test_driver_memory_is_half_of_ram_capped_at_48g():
    assert default_driver_memory(16 * GIB) == "8192m"
    assert default_driver_memory(4 * GIB) == "2048m"
    assert default_driver_memory(96 * GIB) == "49152m"
    assert default_driver_memory(1024 * GIB) == "49152m"


def test_driver_memory_default_reads_this_host():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == default_driver_memory(phys)
    assert int(default_driver_memory()[:-1]) * 2**20 <= phys // 2
