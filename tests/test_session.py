"""Session defaults sized from the host."""

from __future__ import annotations

from crawling_vectordb_llm_spark.session import default_driver_memory

GIB = 2**30


def test_default_driver_memory_is_half_the_ram_capped_at_24g():
    # a "16 GB" host: MemTotal 16479424 kB, 15.7 GiB
    assert default_driver_memory(16479424 * 1024) == "7g"
    assert default_driver_memory(16 * GIB) == "8g"
    assert default_driver_memory(128 * GIB) == "24g"  # the cap
    assert default_driver_memory(48 * GIB) == "24g"
    assert default_driver_memory(1 * GIB) == "1g"  # the floor
