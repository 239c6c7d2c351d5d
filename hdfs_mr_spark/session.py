"""SparkSession factory (SURVEY.md §7.1 M0).

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same config is what
we'd ship to a 1000-executor cluster: AQE on (runtime re-plan, skew-join
split, partition coalescing), Arrow on (fast pandas interchange for the
few sanctioned UDF paths), UTC session timezone (honest timestamp
comparison against the oracle), and shuffle partitions sized for the
local box but overridable per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "hdfs-mr-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # pyspark-shell turns the console progress bar on; its \r-drawn
        # text would land inside captured PASS/FAIL log lines
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.ts is parquet TIMESTAMP(NANOS) which Spark's reader rejects;
        # read as long and convert in io.table (FIXTURES.md events notes).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
