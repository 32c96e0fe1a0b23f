"""SparkSession factory tuned for this engine.

Local-mode defaults mirror the test/bench environment (local[32],
single JVM); the same settings are what we would set per-executor on a
real cluster — AQE on, UTC session timezone (required so Spark
timestamps hash-compare equal to DuckDB's UTC-naive ones), Arrow for
pandas interchange, and shuffle partitions sized to cores rather than
the 200 default.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the checkout root: Python workers import the package (and the worker
# daemon below) from here whatever the driver's cwd and PYTHONPATH are
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "patterns-devkit-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fixture events.parquet stores TIMESTAMP(NANOS); Spark has no ns
        # timestamp type — read as long and convert (see queries.t)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # workers fork from a daemon that stops per-task re-reads of
        # pyspark.zip and the Spark jar (patterns_devkit_spark/daemon.py)
        .config("spark.python.daemon.module", "patterns_devkit_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
    )
    return builder.getOrCreate()
