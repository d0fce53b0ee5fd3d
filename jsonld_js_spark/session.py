"""SparkSession construction with engine-tuned defaults.

Scale posture (SURVEY §4): AQE on (skew-join splitting + partition
coalescing), Arrow batches pinned so per-document UDF memory is
bounded, shuffle partitions sized to cores locally (cluster deploys
override via spark-submit conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# import root of this package: a directory, or the --py-files zip
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(app_name: str = "jsonld_js_spark", *, cores: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # skips PySpark's per-task zip re-read on CPython < 3.12
        .config("spark.python.daemon.module", "jsonld_js_spark.daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # the daemon starts before any task ships --py-files, so the
    # workers' path must hold this package from the start. Prepend it
    # to the workers' environment, which PySpark fills from every
    # spark.executorEnv.* conf: a builder conf would replace a
    # spark-submit --conf spark.executorEnv.PYTHONPATH instead.
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
    return spark
