"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[N]``; the same config block is what we'd
ship to a real cluster via ``spark-submit --py-files`` (AQE + skew-join
handling on, Arrow on, sensible shuffle parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Three quarters of the host's physical memory, capped at 48g: a
    driver heap larger than the host only fails later, under load."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(48, ram * 3 // 4 // 2**30))}g"


def get_spark(
    app_name: str = "igpm_pem_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the master/size comes from spark-submit and ``cores`` is ignored.
    The driver heap is $SPARK_DRIVER_MEM, else ``_default_driver_memory()``;
    ``extra_conf`` overrides both.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # match parallelism, not the 200 default (local mode: fewer, fatter tasks)
        shuffle_partitions = max(cores, 4)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        # stage progress bars interleave \r-frames into stdout/stderr; the
        # bench driver keeps only a 2000-char tail of it, so keep it clean
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # iterative superstep loops run hundreds of queries per session:
        # keep listener/UI retention minimal and let the context cleaner
        # reclaim dropped checkpoint state promptly
        .config("spark.sql.ui.retainedExecutions", "5")
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "100")
        .config("spark.cleaner.periodicGC.interval", "1min")
        # shuffle through tmpfs: local-mode shuffle files on a virtio disk
        # serialize under many concurrent writers and flatten core scaling
        # (on a real cluster this is the NVMe-backed local dir)
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
