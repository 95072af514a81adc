"""SparkSession factory.

Re-expresses the reference's session manager
(``spark/SparkSessionManager.scala:23-134``: getActiveSession-or-create,
master override, AQE on, shuffle partitions tuned, log level WARN) and the
local test builder (``utils/SparkSessionBuilder.scala:68-80``,
``SparkSessionTestWrapper.scala:20-29``: UI off, small shuffle
parallelism) in PySpark.

The ``parallelism`` argument is the N-vs-4N scaling lever: on a real
cluster it maps to executor count via spark-submit; in the sandbox it
maps to ``local[N]`` threads with proportionate
``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = "feature-engineering-poc-spark",
    master: str | None = None,
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Get-or-create a SparkSession tuned for this engine.

    Mirrors the reference's knobs (SparkSessionManager.scala:59-64):
    AQE on, explicit shuffle parallelism, dynamic partition overwrite.
    Adds Arrow transfer (our pandas-UDF kernels) and a pinned UTC
    session timezone so results are comparable against the DuckDB
    oracle.
    """
    parallelism = parallelism or DEFAULT_CPUS
    master = master or f"local[{parallelism}]"
    shuffle_partitions = shuffle_partitions or max(parallelism, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # broadcast relations and collects go through the driver; the
        # 1g default would veto MERGE planning collects that the
        # heap-aware cap (merge._broadcast_cap) has already sized to fit
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "4g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
