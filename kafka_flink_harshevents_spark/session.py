"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in a single JVM; the same configs are the
right defaults on a real cluster (AQE re-plans shuffles at runtime,
UTC session timezone keeps timestamps oracle-comparable, Arrow speeds
every pandas exchange). Scale-sensitive knobs are centralized here so a
100 TB deployment changes one place.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cluster_conf(
    executors: int,
    cores_per_executor: int = 4,
    data_tb: float = 100.0,
    target_partition_mb: int = 256,
) -> dict[str, str]:
    """The SCALING.md sizing rules as a function: the conf dict a real
    deployment passes to ``get_spark(extra_conf=...)``.

    - shuffle partitions: max(2× total cores, data ÷ target partition
      size) — enough that every core stays busy AND no post-shuffle
      partition exceeds the spill-safe target; AQE coalesces the excess
      at runtime, so erring high is cheap and erring low is a spill.
    - adaptive advisory size mirrors the same target so AQE's coalesce
      and skew-split agree with the static sizing.
    - `maxPartitionBytes` keeps scan tasks at the same granularity.
    """
    total_cores = executors * cores_per_executor
    by_cores = 2 * total_cores
    by_size = int(data_tb * 1024 * 1024 / target_partition_mb)
    shuffle = max(by_cores, min(by_size, 200_000))
    return {
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": f"{target_partition_mb}MB",
        "spark.sql.files.maxPartitionBytes": f"{target_partition_mb}MB",
    }


def get_spark(
    app_name: str = "kafka-flink-harshevents-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults honor the driver contract: ``local[$SPARK_GRAFT_CPUS]``
    (fallback ``local[*]``) with shuffle parallelism matched to cores
    rather than Spark's legacy 200 — on a real cluster, pass
    ``shuffle_partitions`` sized so post-shuffle partitions are
    ~128-256 MB at the target data scale, and let AQE coalesce down.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime shuffle re-planning — coalesce small partitions,
        # convert to broadcast when a side turns out small, split skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # DuckDB's timestamps are UTC-naive; pin the session so oracle
        # comparisons and epoch math are deterministic.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas_udf / applyInPandas / toPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark 4.1's ChecksumCheckpointFileManager fails to create
        # StateStore delta files on plain local filesystems (state dir
        # never materializes -> stateful queries retry forever). Checkpoint
        # checksums only pay off on eventually-consistent object stores;
        # re-enable there.
        .config("spark.sql.streaming.checkpoint.checksumEnabled", "false")
        # RocksDB is the state store a 100 TB deployment wants (state
        # larger than heap, changelog checkpointing).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # Let Catalyst hand predicates to Python data sources
        # (pushFilters) — the txlog batch reader turns them into
        # commit-log min/max + bloom file skipping. Off by default in
        # Spark 4.1; safe here because the reader returns every filter
        # as unsupported (Spark re-applies them row-level).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
