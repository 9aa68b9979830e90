"""SparkSession factory tuned for the target execution profile.

Local testing runs on local[N] (single JVM), but every config here is
chosen to also hold on a large multi-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for any Python
exchange, UTC session time zone for oracle comparability.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "nimble_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    Shuffle partitions default to the local core count — at cluster
    scale AQE coalescing makes the static number far less critical,
    but an over-partitioned local run wastes task overhead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Python workers fork from a daemon that keeps each task's
        # import-cache reset from re-reading pyspark.zip, the py4j zip
        # and the Spark jar on CPython < 3.12 (nimble_spark/worker_daemon.py;
        # it imports from the checkout put on PYTHONPATH below)
        .config("spark.python.daemon.module", "nimble_spark.worker_daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Python workers import nimble_spark from their own working
    # directory and PYTHONPATH, never from the driver's sys.path: put
    # the checkout this driver imported first on theirs
    # (SparkContext.environment holds the spark.executorEnv.* vars
    # every Python function ships with).
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        env["PYTHONPATH"] = os.pathsep.join([root, *paths])
    return spark
