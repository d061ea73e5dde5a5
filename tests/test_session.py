"""Session sizing: the default driver heap fits the host, and the
default task-slot count is the cores this process may run on."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent

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


def test_default_cpus_follow_the_affinity_mask():
    """With SPARK_GRAFT_CPUS unset, a session gets one task slot and one
    shuffle partition per core in the process's affinity mask."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(REPO), env.get("PYTHONPATH")]))
    code = (
        "from flink_kakfa_spark.session import get_spark\n"
        "s = get_spark('cpus')\n"
        "print(s.sparkContext.master, s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=300, check=True,
    ).stdout.split()
    n = len(os.sched_getaffinity(0))
    assert out[-2:] == [f"local[{n}]", str(n)]
