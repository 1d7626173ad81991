"""SparkSession factory.

Local-mode sessions tuned for the sandbox (single JVM, N executor threads).
All engine code takes an externally-created SparkSession; this module is a
convenience used by tests, bench.py and the CLI.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the default driver heap: at most this many GiB, and at most this share
# of the host's physical memory (the Python workers need the rest)
_DRIVER_MEM_MAX_GB = 24
_DRIVER_MEM_SHARE = 0.5


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run
    on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEM`` when set, else ``_DRIVER_MEM_SHARE`` of the
    host's physical memory in whole GiB (at least 1), capped at
    ``_DRIVER_MEM_MAX_GB``."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gb = int(total * _DRIVER_MEM_SHARE) >> 30
    return f"{min(max(gb, 1), _DRIVER_MEM_MAX_GB)}g"


def get_spark(
    app_name: str = "review_recommender_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
