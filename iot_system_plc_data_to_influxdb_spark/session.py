"""SparkSession factory.

The driver supplies its own session to ``__spark_entry__``; this builder
is for tests/bench. Tuned for local[N] single-JVM testing while keeping
settings that scale to a real cluster (AQE, skew-join handling, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "iot-plc-spark-engine") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle partitions sized to cores for local mode. On a real
        # cluster this would be ~2-3x total cores or left to AQE
        # coalescing, which is enabled below and is the setting that
        # actually matters at 100 TB.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # Stream offset and commit logs rename through FileSystem: the
        # default FileContext manager's link-resolving rename forks a
        # `readlink` per log file where Hadoop has no native library.
        # Safe here because this factory only builds local-mode sessions.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
