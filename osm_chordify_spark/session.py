"""SparkSession factory with scale-oriented defaults.

Local-mode knobs mirror what a cluster submit would set via spark-submit
conf: AQE on (runtime re-plan + skew-join splitting), Arrow on (all our
geometry kernels are Arrow-batched pandas UDFs), shuffle partitions sized
to cores rather than the 200 default.  The core count and driver heap
default to the host's (``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` and
``extra_conf`` override them).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# the former fixed heap default; the host-derived heap never exceeds it
_MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_memory(meminfo: str) -> str:
    """Local-mode driver heap from ``/proc/meminfo`` text: half of
    MemTotal (the JVM runs every task in local mode; the other half is
    left to Python workers and the OS), at least 1 GB, at most 48 GB;
    48 GB when MemTotal is missing."""
    m = re.search(r"^MemTotal:\s+(\d+) kB", meminfo, re.M)
    if not m:
        return f"{_MAX_DRIVER_MEM_MB}m"
    return f"{min(max(int(m.group(1)) // 2048, 1024), _MAX_DRIVER_MEM_MB)}m"


def _host_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as f:
            return default_driver_memory(f.read())
    except OSError:
        return default_driver_memory("")


def get_spark(
    app_name: str = "osm_chordify_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism; AQE coalesces small partitions at runtime
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _host_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
