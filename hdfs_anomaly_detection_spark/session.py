"""SparkSession factory with scale-appropriate defaults.

The reference configures its session ad hoc per script
(``cloud-deployment/spark_job.py:49-55``); we centralize so every entry
point (tests, bench, spark-submit job) gets the same AQE / Arrow / UTC
configuration and a parallelism knob for the two-cluster-size scaling
benchmark (local[N] vs local[4N]).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "transcript-validation-engine",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    parallelism: executor-thread count for ``local[N]``; default from
    ``$SPARK_GRAFT_CPUS`` or ``local[*]``. ``shuffle_partitions``
    defaults to the parallelism (NOT Spark's 200 — wrong for both tiny
    and huge local data).
    """
    if parallelism is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{parallelism}]"
        cores = parallelism
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # allow joins to ride an existing hash(conv_id) exchange when the
        # join keys are a superset (single-exchange validation plan)
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # ParallelGC beats the G1 default ~1.4x at 32 threads on the
        # allocation-heavy regex canonicalization path (measured: 48.8s
        # G1 vs 34.4s ParallelGC for 36M-row canonicalize+hash)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
