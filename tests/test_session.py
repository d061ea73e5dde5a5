"""Session sizing: the default driver heap fits the host."""

from __future__ import annotations

import os

import pytest

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _bytes(size: str) -> int:
    size = size.strip().lower().removesuffix("b")
    if size[-1] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size)


@pytest.mark.skipif(
    "SPARK_GRAFT_DRIVER_MEM" in os.environ,
    reason="driver heap set explicitly through SPARK_GRAFT_DRIVER_MEM",
)
def test_default_driver_heap_fits_physical_memory(spark):
    """Local mode runs the executors inside the driver heap; a heap
    larger than physical memory lets the JVM grow until the kernel's
    OOM killer stops it."""
    with open("/proc/meminfo") as f:
        mem_total = next(
            int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:")
        )
    assert _bytes(spark.conf.get("spark.driver.memory")) <= mem_total
