"""SparkSession factory with the pipeline's standard config.

Cores and driver heap default to what this host has; ``SPARK_GRAFT_CPUS``
and ``SPARKLOG_DRIVER_MEM`` override them for a deployment."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the physical RAM, capped at 48g: the driver JVM shares the host
    with its Python workers and the tmpfs shuffle dir."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(ram_mb // 2, 48 << 10)}m"


def get_spark(master: str | None = None, app: str = "sparklog",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = (os.environ.get("SPARK_GRAFT_CPUS")
            or str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    n_threads = master.split("[")[-1].rstrip("]")
    shuffle = shuffle_partitions or (
        int(n_threads) if n_threads.isdigit() else 32)
    return (
        SparkSession.builder
        .master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing is a MEMORY knob, not just an amortization
        # knob: 65k-row batches of token arrays put ~20MB per in-flight
        # task each direction, and at 32 concurrent tasks the JVM hits
        # direct-memory/GC stalls (measured 132s vs 5-10s for the same 6M-
        # row parse at 8k batches).  8k rows amortizes the Python roundtrip
        # fine (~2us/row compute) while keeping in-flight memory bounded.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARKLOG_DRIVER_MEM")
                or _default_driver_memory())
        # local-mode shuffle through one shared disk caps multi-core
        # scaling; tmpfs restores the per-node shuffle locality a real
        # cluster has (each executor spills to its own local disks)
        .config("spark.local.dir",
                os.environ.get("SPARKLOG_LOCAL_DIR", "/dev/shm/spark-local"))
        .config("spark.io.compression.codec", "zstd")
        # parse parallelism == scan parallelism (the parse UDF runs before
        # any exchange); small local corpora must still split across cores
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .getOrCreate()
    )
