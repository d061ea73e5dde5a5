"""SparkSession construction with engine-wide physical-execution posture.

Engine-level choices we own (SURVEY.md §4): AQE on (runtime re-planning,
skew-join splitting), UTC session timezone (timestamp results hash-match
the DuckDB oracle), Arrow enabled for the pandas-UDF paths and for the
Kafka data plane, whose records cross between the driver and the JVM as
one Arrow table, and a shuffle-partition count sized to the data (tiny
for unit tests, matched to cores for bench; at real cluster scale AQE
coalesces automatically).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _quarter_of_ram() -> str:
    """A quarter of physical memory, at least 1 GiB, as a JVM size."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(total // 4 >> 20, 1024)}m"


def get_spark(
    app_name: str = "flink-kakfa-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    Scale posture: every setting below is what we would ship to a
    1000-executor cluster, except ``master``/partition counts which are
    sized for the local test harness.
    """
    # one task slot per core this process may run on (SPARK_GRAFT_CPUS
    # overrides, e.g. for a benchmark pinned to fewer cores)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    # Local mode defaults to a 1g driver heap regardless of machine RAM —
    # in local mode the "driver" heap IS all executor memory, so size it
    # to the machine: a quarter of RAM, leaving room for the Python
    # workers and the page cache (effective only for the process's first
    # session).
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _quarter_of_ram()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", mem)
        # Catalyst/AQE: runtime coalescing, skew-join handling, dynamic
        # broadcast selection. Free optimizations — never re-implement.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow batch transfer for pandas UDF / toPandas / toArrow paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Keep the UI off in the harness; it only costs startup time here.
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # managed tables (bucketing tests, scratch) live outside the repo
        .config("spark.sql.warehouse.dir", "/tmp/flink_kakfa_spark_warehouse")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
