"""Structured-Streaming validation of a transcripts stream.

Reference lifecycle being reproduced (Spark-first): Kafka source →
from_json flatten → null filter → foreachBatch
(``cloud-deployment/spark_job.py:72-197``), with its 10 s processing
trigger and checkpointLocation (``:196,:54``) — but where the reference
collapsed every micro-batch to the driver (``:113`` df.collect()), we
keep the whole check pipeline inside the streaming plan:

* row-level constraint predicates and stream-static dimension joins run
  per micro-batch fully distributed (append mode);
* violation counts aggregate into event-time tumbling windows behind a
  watermark (the reference has NO late-data story — restarts silently
  skip data, ``spark_job.py:77-78``; the watermark + manifest pair is
  the fix);
* checks that need global state across the stream (Unique, ordering,
  drift) run in ``foreachBatch`` through the batch ValidationJob, so
  each epoch lands in the manifest table idempotently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.constraints.dsl import (
    Check,
    InSet,
    NotNull,
    Range,
    RefIntegrity,
    Regex,
)
from hdfs_anomaly_detection_spark.constraints.runner import ValidationRunner

# checks whose plan is append-mode-safe (no global shuffle state)
STREAM_SAFE_TYPES = (NotNull, Range, InSet, Regex, RefIntegrity)


def stream_checks(checks: list[Check]) -> list[Check]:
    return [c for c in checks if isinstance(c, STREAM_SAFE_TYPES)]


def streaming_violations(
    stream_df: DataFrame,
    checks: list[Check],
    dims: dict[str, DataFrame] | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Per-row violation stream (append mode): same plan builders as the
    batch runner — predicates + stream-static dim joins + struct-array
    explode — applied to an unbounded DataFrame. Keeps the event ``ts``
    so downstream windowing can watermark."""
    safe = stream_checks(checks)
    runner = ValidationRunner(
        safe, n_buckets=n_buckets, dims=dims or {}, carry_cols=("ts",)
    )
    plan = runner._flagged(stream_df)
    if not plan.flags:
        raise ValueError("no stream-safe checks supplied")
    return runner._row_violations(plan.frame, extra_cols=("ts",))


def windowed_violation_counts(
    violations_stream: DataFrame,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Event-time tumbling violation counts behind a watermark (append
    mode): one row per (window, part_id, check_id) once the watermark
    passes — the streaming analogue of the per-partition verdict."""
    return (
        violations_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "part_id", "check_id")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "part_id",
            "check_id",
            "n_violations",
        )
    )


def dedup_stream(
    stream_df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it, so state is O(keys-per-watermark-window), not
    O(stream) — the streaming analogue of the batch keep-first dedup
    (``operators/dedup.py``; reference skip-if-seen cache,
    ``anomaly_detection_service.py:668-678``, whose dict grows without
    bound)."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


# ---------------------------------------------------------------- kafka path

# the transcripts event payload carried in the kafka value
# (spark_job.py:57-66 defines the reference's raw-message schema)
TRANSCRIPT_VALUE_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def kafka_stream_reader(
    spark,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
):
    """Configured kafka-format ``readStream`` (call ``.load()`` on it).

    Reproduces the reference's source config
    (``cloud-deployment/spark_job.py:72-79``: bootstrap servers,
    subscribe, startingOffsets, failOnDataLoss=false) plus
    ``maxOffsetsPerTrigger`` — the backpressure knob the reference
    lacks (its restarts re-read whatever the consumer group lost).
    Needs the ``spark-sql-kafka`` runtime jar on the classpath; this
    sandbox has no broker/jar, so tests pin the config + flatten plan
    on a kafka-shaped static frame instead."""
    r = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger is not None:
        r = r.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return r


def flatten_kafka_value(
    df: DataFrame, value_ddl: str = TRANSCRIPT_VALUE_DDL
) -> DataFrame:
    """kafka wire schema (key/value binary, topic, partition, offset,
    timestamp) → typed transcript columns via ``from_json``, keeping
    provenance columns and an explicit ``_corrupt`` flag where the
    reference silently dropped unparseable messages
    (``spark_job.py:92-103`` from_json → filter isNotNull)."""
    # PERMISSIVE from_json yields an all-null struct (not NULL) for
    # garbage, so corruption is detected via columnNameOfCorruptRecord
    j = F.from_json(
        F.col("value").cast("string"),
        f"{value_ddl}, _corrupt_record string",
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    fields = [f.split()[0] for f in value_ddl.split(",")]
    return df.select(
        F.col("key").cast("string").alias("kafka_key"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("kafka_ts"),
        # a NULL payload (tombstone/empty message) parses to a null
        # struct with a null _corrupt_record — it must still count as
        # corrupt, not surface as a clean all-null row (ADVICE r2)
        F.col("value").isNull().alias("__null_value"),
        j.alias("__j"),
    ).select(
        "kafka_key", "topic", "partition", "offset", "kafka_ts",
        *[F.col(f"__j.{f}").alias(f) for f in fields],
        (F.col("__null_value") | F.col("__j._corrupt_record").isNotNull()).alias(
            "_corrupt"
        ),
    )


def kafka_sink_writer(df: DataFrame, brokers: str, topic: str, checkpoint: str):
    """Configured kafka-format ``writeStream`` (call ``.start()`` on it):
    rows serialized to JSON in ``value``, keyed by conv_id — the
    reference's producer path
    (``hdfs_production_log_processor.py:334-349``) as a declarative
    sink. Checkpointed, so the producer is exactly-once per epoch
    rather than the reference's fire-and-forget."""
    out = df.select(
        F.col("conv_id").cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )
    return (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def foreach_batch_validator(job) -> callable:
    """foreachBatch hook running the FULL batch validation (uniqueness,
    ordering, drift) per epoch through a manifest-checkpointed
    ValidationJob — exactly-once via the manifest fingerprint, replacing
    the reference's silently-complete epochs (``spark_job.py:144-153``).
    """

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # epoch id salts the partition fingerprints: sources without
        # file lineage (kafka) would otherwise repeat the plan-basis
        # fallback across epochs and wrongly skip later epochs
        job.run(batch_df, run_id=f"epoch-{epoch_id}", basis_salt=f"epoch-{epoch_id}")

    return handle
