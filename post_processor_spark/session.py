"""SparkSession factory tuned for the sandbox (local[N]) but written so the
same config is what you'd submit to a 1000-executor cluster via
spark-submit --py-files: AQE on, Arrow on, explicit shuffle partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem(ncores: int) -> str:
    """4 GB per core (room for each task's sort buffers plus cached
    frames), capped at 30% of the machine's MemTotal: the JVM grows its
    heap toward -Xmx, and a heap larger than the free memory gets the
    process killed by the kernel. The Python workers need memory of
    their own outside the heap."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(1, min(4 * ncores, int(mem_kb / 2**20 * 0.3)))}g"


def get_spark(
    cores: int | None = None,
    app_name: str = "post_processor_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local parallelism; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to cores (local mode rule of thumb —
    at cluster scale this would be 2-3x total executor cores, or left to
    AQE coalescing).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, ncores)

    # local-mode shuffle goes through spark.local.dir; on this box a
    # disk-backed /tmp serializes the 32-thread run on I/O — use the RAM
    # disk when present (a real cluster would put this on NVMe)
    local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: the driver heap IS the cluster memory
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(ncores),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd over lz4: the shuffle-heavy frontier pass is DRAM-bandwidth
        # bound (shuffle files live in /dev/shm), and zstd's better ratio
        # trades cheap CPU for scarce bandwidth — measured faster at both
        # local[4] (+5%) and local[16] (+10%) on the 5M-URL pass. On a
        # real cluster the same trade shrinks network shuffle bytes.
        .config("spark.io.compression.codec", "zstd")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
