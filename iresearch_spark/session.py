"""SparkSession factory tuned for the index-build / query workload.

local[N] in tests; the same settings are what we'd ship for a real cluster
(AQE on, Arrow on, shuffle partitions sized to cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "iresearch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Make this package importable by executor Python workers regardless of
    # the caller's cwd (the local-mode stand-in for `spark-submit --py-files`).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds per-batch memory in mapInPandas kernels —
        # the Spark analogue of the reference's segment_memory_max
        # (core/index/index_writer.hpp:128-132).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = one JVM for driver + all executor threads: size the
        # heap for the thread count and use the throughput collector —
        # stop-the-world GC pauses are a SERIAL cost that caps scaling
        # (measured ~30s of pauses per 400k-doc build on the default 8g heap)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.io.tmpdir=/tmp -XX:+UseParallelGC",
        )
        # the stock worker daemon, minus a zip-directory re-read per task
        # (see iresearch_spark/pydaemon.py)
        .config("spark.python.daemon.module", "iresearch_spark.pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
