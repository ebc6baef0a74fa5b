from hdfs_anomaly_detection_spark.streaming.validate_stream import (  # noqa: F401
    STREAM_SAFE_TYPES,
    TRANSCRIPT_VALUE_DDL,
    dedup_stream,
    flatten_kafka_value,
    foreach_batch_validator,
    kafka_sink_writer,
    kafka_stream_reader,
    stream_checks,
    streaming_violations,
    windowed_violation_counts,
)
from hdfs_anomaly_detection_spark.streaming.graceful import (  # noqa: F401
    DRAINED,
    GRACE_EXPIRED,
    TERMINATED,
    await_drain,
    clear_stop,
    request_stop,
    stop_requested,
)
from hdfs_anomaly_detection_spark.streaming.heavy_hitters import (  # noqa: F401
    StreamingHeavyHitters,
)
from hdfs_anomaly_detection_spark.streaming.stateful import (  # noqa: F401
    ORDER_VIOLATION_SCHEMA,
    stateful_order_violations,
)
