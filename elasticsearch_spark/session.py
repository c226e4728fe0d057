"""SparkSession factory tuned for the sandbox (local[N], one JVM).

At cluster scale the same settings apply per-executor; AQE handles
runtime re-planning (skew joins, partition coalescing).

The session's Python workers are forked from
``elasticsearch_spark.worker_daemon`` (``spark.python.daemon.module``)
rather than the stock ``pyspark.daemon``. pyspark's worker calls
``importlib.invalidate_caches()`` on every task, which makes each
worker re-read the directory of every zip it imports from, ~150-200 ms
per task on ``pyspark.zip``; the engine's daemon re-reads an archive
only when it has changed on disk. The workers already need the engine
on their import path (the kernels are pickled by reference), so the
daemon needs nothing more. A ``spark.python.daemon.module`` that the
operator set in ``PYSPARK_SUBMIT_ARGS`` or ``spark-defaults.conf`` is
kept.
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import SparkSession

DAEMON_MODULE = "elasticsearch_spark.worker_daemon"
_DAEMON_KEY = "spark.python.daemon.module"


def _operator_sets(key: str) -> bool:
    """Whether ``PYSPARK_SUBMIT_ARGS`` or the ``spark-defaults.conf``
    that spark-submit reads (``$SPARK_CONF_DIR``, else
    ``$SPARK_HOME/conf``) already sets ``key``."""
    k = re.escape(key)
    if re.search(rf"(^|[\s=\"']){k}\s*=", os.environ.get("PYSPARK_SUBMIT_ARGS", "")):
        return True
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        os.environ.get("SPARK_HOME", ""), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            return any(re.match(rf"\s*{k}(\s|=|:)", line) for line in f)
    except OSError:
        return False


def session_confs(cores: int | str | None = None,
                  shuffle_partitions: int | None = None) -> dict[str, str]:
    """The confs ``get_spark`` applies to a new session, master included.

    cores: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS or *.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 8)
    confs = {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        # Partition coalescing defaults OFF here because
        # shuffle.partitions above is already sized to the core count:
        # merging can only shrink parallelism below the cores, and an
        # interleaved A/B at sf1.0 measured the dedup pipeline 6.6 s
        # (on) vs 4.7-5.0 s (off) with identical results.  At cluster
        # scale, where shuffle partitions are deliberately oversized
        # and coalescing earns its keep, re-enable via
        # SPARK_GRAFT_AQE_COALESCE=true.
        "spark.sql.adaptive.coalescePartitions.enabled":
            os.environ.get("SPARK_GRAFT_AQE_COALESCE", "false"),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "24g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    if _operator_sets(_DAEMON_KEY):
        print(f"session: keeping the operator's {_DAEMON_KEY}; Python "
              f"workers re-read every import archive on each task",
              file=sys.stderr)
    else:
        confs[_DAEMON_KEY] = DAEMON_MODULE
    # only when given: an empty value would overwrite the
    # spark.driver.extraJavaOptions of spark-defaults.conf
    java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if java_opts:
        confs["spark.driver.extraJavaOptions"] = java_opts
    return confs


def get_spark(
    app_name: str = "elasticsearch_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with ``session_confs``."""
    builder = SparkSession.builder.appName(app_name)
    for key, value in session_confs(cores, shuffle_partitions).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
