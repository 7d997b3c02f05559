"""Session defaults fitted to the host."""

from ontologybasedkgcreation_spark.session import (
    MAX_DRIVER_MEM_GB,
    driver_memory_for,
)

GIB_KB = 1 << 20


def test_driver_memory_fits_host_ram():
    # 40 % of physical RAM, leaving the rest to the Python workers
    assert driver_memory_for(15 * GIB_KB) == "6g"
    assert driver_memory_for(64 * GIB_KB) == "25g"
    # never above the ceiling, never below 1g
    assert driver_memory_for(512 * GIB_KB) == f"{MAX_DRIVER_MEM_GB}g"
    assert driver_memory_for(GIB_KB) == "1g"
    # unknown host: the ceiling
    assert driver_memory_for(None) == f"{MAX_DRIVER_MEM_GB}g"
