"""SparkSession builder with scale-appropriate defaults.

Local mode in this sandbox stands in for a multi-executor cluster; the
configs that matter at 100 TB (AQE, skew-join handling, Arrow batching,
shuffle-partition sizing) are set here so the same code ships unchanged via
``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "yaschva_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # defaults fit the host: the CPUs this process may use and a quarter of
    # physical memory for the driver; both env vars override (deployment)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY") or f"{ram // 4 // 2**20}m"
    master = master or f"local[{cpus}]"
    # one shuffle partition per core locally; on a real cluster this is set
    # per-job to ~2-3x total cores (or left to AQE coalescing)
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # smaller splits than the 128m default: validation is CPU-rich per
        # byte, and coarse splits quantize into few task-waves (a 15-task
        # scan on 4 cores wastes ~25% of the last wave; 32m splits give
        # 4x the tasks and a ~2% tail). On a cluster this also smooths
        # executor-count scaling for the same reason.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # RocksDB-backed streaming state: the default HDFS-backed provider
        # keeps every key's state ON-HEAP, so the stateful operators'
        # claimed 10^8-key feasibility (streaming.stateful_violation_totals
        # keeps 3 longs/key) would OOM an executor long before that; the
        # RocksDB provider spills state to local disk with a bounded
        # block-cache footprint. Changelog checkpointing ships per-batch
        # deltas instead of full SST snapshots — at 10^8 keys a snapshot
        # upload per micro-batch would dominate the trigger interval.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
