"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode knobs here stand in for cluster submit conf; the same settings go
in spark-submit --conf for the multi-executor path (BASELINE.md). AQE is on
for runtime skew-join splitting and partition coalescing (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def resolve_shuffle_partitions(cores: int | str,
                               shuffle_partitions: int | None) -> int:
    """spark.sql.shuffle.partitions for a session: an explicit count wins;
    otherwise one partition per core, or 32 when ``cores`` is not a
    number (``local[*]``)."""
    if shuffle_partitions:
        return shuffle_partitions
    return int(cores) if str(cores).isdigit() else 32


def get_spark(
    app_name: str = "bdtopo2refhydro_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = resolve_shuffle_partitions(cores, shuffle_partitions)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # shuffle/spill scratch on tmpfs when available: on a cluster each
        # executor gets node-local SSD via spark.local.dir / YARN dirs; this
        # box's /tmp is one virtual disk shared by all 32 threads and
        # serializes shuffle I/O (measured: all phases cap near 5x at 16
        # cores with /tmp, disk-bound not CPU-bound)
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS",
                               "/dev/shm/spark-local"
                               if os.path.isdir("/dev/shm") else "/tmp"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # iterative traversals localCheckpoint() every round; the blocks of
        # superseded rounds are only released when the driver GCs (Spark's
        # ContextCleaner is GC-driven) and the default periodic GC is 30min.
        # Left alone, a 12-round BFS leaves hundreds of orphaned cached
        # blocks that slow every subsequent job ~15x (measured). 30s keeps
        # long-running sessions healthy at negligible cost.
        .config("spark.cleaner.periodicGC.interval", "30s")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
