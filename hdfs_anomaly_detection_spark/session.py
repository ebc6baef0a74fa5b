"""SparkSession factory with scale-appropriate defaults.

The reference configures its session ad hoc per script
(``cloud-deployment/spark_job.py:49-55``); we centralize so every entry
point (tests, bench, spark-submit job) gets the same AQE / Arrow / UTC
configuration and a parallelism knob for the two-cluster-size scaling
benchmark (local[N] vs local[4N]).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """A small driver-side table (``rows`` of tuples in ``schema`` order)
    as an Arrow-backed ``LocalRelation``.

    ``spark.createDataFrame(<python list>)`` pickles the rows into an
    opaque ``LogicalRDD``: every action that reads it starts Python
    worker tasks, and the optimizer cannot fold it (an empty grid or an
    empty violations frame still plans a scan). An Arrow table becomes a
    ``LocalRelation`` instead, which Catalyst propagates and folds, so a
    drift-only run's verdicts collect without a single Spark job.

    Columns are built with ``pa.array`` straight from the Python values,
    not through pandas: NaN stays NaN and ``None`` stays null in every
    type (pandas would turn a NaN double into null and an int column
    with a null into double). Naive datetimes are read as UTC."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


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
        # PySpark 4's call-site capture costs ~10 Py4J round trips per
        # Column operation (active-session lookup, conf read, JVM origin
        # set/clear, inspect.stack), two thirds of a runner build; the
        # price is that a DataFrame error's query context no longer names
        # the Python call site
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
