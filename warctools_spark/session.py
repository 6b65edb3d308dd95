"""SparkSession construction with the engine's scale-oriented defaults.

Tuned for correctness at local[N] and for the 1000-executor design
point: AQE on (runtime re-plan + skew-join splitting), Arrow-batched
Python UDF transfer, shuffle partitions sized to the core count, and
partition bytes sized so a 100 TB scan yields sane task counts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# A JVM heap grows toward -Xmx before it collects hard, so a default
# near the host's RAM gets a local driver OOM-killed. 4g holds the test
# suite; SPARK_GRAFT_DRIVER_MEM sizes it for larger inputs.
DEFAULT_DRIVER_MEMORY = "4g"


def engine_conf(builder, shuffle_partitions: int | None = None):
    sp = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEMORY),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )


def get_spark(
    app: str = "warctools_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app).master(master)
    return engine_conf(builder, shuffle_partitions).getOrCreate()
