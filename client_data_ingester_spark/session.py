"""SparkSession factory.

Local mode for tests/bench; the same configs are what we'd set cluster-side.
AQE is on so skewed merge shuffles re-plan at runtime; shuffle partitions
default to the local core count rather than 200 (right-size for local; on a
real cluster this is set per-job or left to AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "client_data_ingester_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "*"))
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 8 if cpus == "*" else (
            int(cpus) if cpus.isdigit() else 32
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) writes NO min/max statistics, which
        # silently disables row-group skipping and zone maps on every
        # timestamp column this engine writes; micros is the modern
        # stats-bearing encoding
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

