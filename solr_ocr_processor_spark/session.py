"""SparkSession factory tuned for the index-build workload.

Defaults size themselves from the host (the CPUs this process may run
on, a share of its memory) but every knob is the one you'd set on a
1000-executor cluster too: AQE on (runtime skew-join splitting +
partition coalescing), Arrow everywhere (all our UDFs are pandas/Arrow
vectorized — per-row Python is banned by the input hint).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MIB = 1 << 20


def _host_memory() -> int:
    """Bytes this process may use: the cgroup v2 ``memory.max`` when it
    holds a number, else physical RAM."""
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            return int(f.read())
    except (OSError, ValueError):  # no cgroup file, or "max"
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _default_driver_memory() -> str:
    """A quarter of the host's memory, at most 32g: local mode runs every
    task in the driver JVM, and the rest is left to the Python workers,
    the OS page cache and a second JVM (a spark-submit child) sized by
    the same rule."""
    return f"{max(1024, min(32 * 1024, _host_memory() // 4 // _MIB))}m"


def get_spark(
    app_name: str = "solr_ocr_processor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = ONE JVM for all task threads: size the heap for
        # the parallelism or 32 concurrent collect_list/window tasks
        # GC-thrash an 8g heap (measured 3-10x stage slowdowns) — but a
        # heap above what the host holds gets the JVM OOM-killed.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill to tmpfs when available: the sandbox's /tmp is
    # disk-backed and a 170M-row shuffle pays 3x there (measured).
    # Real clusters override via SPARK_LOCAL_DIRS / NVMe local dirs.
    if os.path.isdir("/dev/shm") and not os.environ.get("SPARK_LOCAL_DIRS"):
        b = b.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
