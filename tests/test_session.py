"""Session defaults fitted to the host."""

import os

from ontologybasedkgcreation_spark.session import (
    MAX_DRIVER_MEM_GB,
    driver_memory_for,
    local_threads,
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


def test_local_threads_reads_max_failures_forms():
    # Spark's local[N,F] / local[*,F] forms carry the task max-failures
    # count after the comma; the thread count is the part before it
    assert local_threads("local[4]") == 4
    assert local_threads("local[4,2]") == 4
    assert local_threads("local[16, 3]") == 16
    assert local_threads("local[*]") == os.cpu_count()
    assert local_threads("local[*,2]") == os.cpu_count()
    # not a local[...] master: no thread count
    assert local_threads("local") == 0
    assert local_threads("local-cluster[2,1,1024]") == 0
    assert local_threads("spark://host:7077") == 0
