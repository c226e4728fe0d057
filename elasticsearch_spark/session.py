"""SparkSession factory tuned for the sandbox (local[N], one JVM).

At cluster scale the same settings apply per-executor; AQE handles
runtime re-planning (skew joins, partition coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "elasticsearch_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS or *.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Partition coalescing defaults OFF here because
        # shuffle.partitions above is already sized to the core count:
        # merging can only shrink parallelism below the cores, and an
        # interleaved A/B at sf1.0 measured the dedup pipeline 6.6 s
        # (on) vs 4.7-5.0 s (off) with identical results.  At cluster
        # scale, where shuffle partitions are deliberately oversized
        # and coalescing earns its keep, re-enable via
        # SPARK_GRAFT_AQE_COALESCE=true.
        .config("spark.sql.adaptive.coalescePartitions.enabled",
                os.environ.get("SPARK_GRAFT_AQE_COALESCE", "false"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # only when given: an empty value would overwrite the
    # spark.driver.extraJavaOptions of spark-defaults.conf
    java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
