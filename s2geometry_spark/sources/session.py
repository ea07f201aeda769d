"""SparkSession factory tuned for the engine.

Iceberg note: the design-scale storage layer is an Iceberg table
(partitioned by cell_l{k} prefix); the Iceberg runtime jar is not available
in this sandbox, so we fall back to plain parquet with an identical schema
and the same cell-prefix partition column — every operator is agnostic to
the catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# cgroup v2 / v1 memory limits; an unlimited v1 cgroup reports ~2^63
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _machine_memory_bytes() -> int:
    """Memory this process may use: the cgroup limit when one is set,
    else MemTotal from /proc/meminfo."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                total = min(total, int(f.read().strip()))
        except (OSError, ValueError):  # absent, or "max" (no limit)
            pass
    return total


def _default_driver_memory() -> str:
    """A quarter of the machine's memory (the JVM's own default heap
    share): local mode runs every executor in the driver JVM, and the
    Python workers need the rest."""
    return f"{max(1024, _machine_memory_bytes() // 4 // 2**20)}m"


def get_spark(
    app_name: str = "s2geometry_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    shuffle_partitions = shuffle_partitions or max(32, cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # big Arrow batches amortize the Python/JVM boundary for the
        # vectorized kernels (encode is ~100ns/row inside NumPy)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # TIMESTAMP_NTZ -> TIMESTAMP casts interpret the naive value in
        # the session timezone; pin it so epoch arithmetic (sessionize)
        # is deterministic and matches DuckDB's naive epoch_us()
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    return builder.getOrCreate()
