"""SparkSession construction with scale-appropriate defaults.

Design notes (100 TB target, tested on local[N]):
- AQE on: runtime partition coalescing + skew-join splitting back up the
  engine's explicit salting.
- Arrow on: every pandas UDF stage crosses JVM->Python via Arrow IPC;
  ``maxRecordsPerBatch`` kept moderate because ``content`` rows are wide.
- shuffle.partitions defaults to 2x cores locally; on a real cluster this
  is expected to be overridden (AQE coalesces the excess anyway).
- UTC session timezone: timestamps are derived from event seq, never wall
  clock, and must be stable across hosts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)


def spark_conf(cores: int | None = None, shuffle_partitions: int | None = None) -> dict[str, str]:
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or 2 * cores
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # smaller scan splits: a binlog segment is one file, and split
        # granularity (bounded below by parquet row-group size) is the
        # ONLY source of scan parallelism on the no-shuffle data path;
        # 16MB row groups make every engine-written file splittable that
        # fine (and sharpen manifest min/max pruning granularity)
        "spark.sql.files.maxPartitionBytes": "33554432",
        "spark.hadoop.parquet.block.size": str(16 * 1024 * 1024),
        "spark.sql.parquet.compression.codec": "snappy",
        # deterministic: never infer schemas off sampled data
        "spark.sql.streaming.schemaInference": "false",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("ETL_SPARK_DRIVER_MEM", "8g"),
    }


def get_spark(
    app: str = "etl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession on local[cores] with engine defaults."""
    cores = cores or DEFAULT_CPUS
    builder = SparkSession.builder.appName(app).master(f"local[{cores}]")
    for k, v in spark_conf(cores, shuffle_partitions).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
