"""SparkSession factory with the engine's standard configuration.

Local-mode knobs follow the public Spark tuning guidance: shuffle
partitions ≈ cores (not the 200 default), AQE on (runtime coalescing +
skew-join splitting), Arrow enabled for the vectorized UDF kernels.
On a real cluster the same builder works — only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_heap() -> str:
    """Default driver heap: 40% of the host's physical memory (MemTotal),
    capped at 24g — leaves room for the Python workers, which hold the
    Arrow buffers, on a small host."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(24 << 10, total_mb * 2 // 5)}m"


def default_cores() -> int:
    """The core count a session uses when none is given:
    ``SPARK_GRAFT_CPUS``, else the host's CPU count.  The ``vcfblocks``
    readers plan for the registering session's ``defaultParallelism``
    (``datasource.register_data_source``) and fall back to this only
    when the data source class is used unregistered."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)


def get_spark(cores: int | None = None, app_name: str = "vcf2parquet_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    # Arrow buffers in Python workers come from glibc (retained via
    # _alloc.worker_setup's mallopt tuning) instead of jemalloc (which
    # purges dirty pages back to the OS — expensive to re-fault on
    # slow-page-fault hosts).  Must be set before any worker imports pyarrow; workers
    # inherit the driver env in local mode.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    mem = os.environ.get("SPARK_DRIVER_MEM")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # zstd shuffle: the encode shuffle moves the full corpus once;
        # zstd ~halves the moved bytes vs lz4 for code text at a CPU
        # cost that rides the (parallel) task path — the right trade
        # whenever the shuffle fabric, not CPU, is the scaling limit
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", mem or _host_heap())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    if mem:
        # an explicit heap is pinned: committed pages stay committed (no
        # G1 uncommit → no re-faulting of heap regions between jobs)
        builder = builder.config("spark.driver.extraJavaOptions",
                                 f"-Xms{mem} -XX:-ShrinkHeapInSteps")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
