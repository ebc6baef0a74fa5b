"""PySpark-native schema + constraint validation engine.

A from-scratch engine (NOT a port) with the query / data-processing
capabilities of the reference repo ``hasb73/hdfs-anomaly-detection``:
declarative constraint DSL compiled to Catalyst predicates, per-column
stats (null-rate, min/max, HLL distinct, length histograms),
per-conversation uniqueness windows, referential integrity via
existence joins (broadcast or sort-merge),
distribution-drift checks (KS / PSI over mergeable log-bucket histograms),
per-partition pass/fail verdicts with exact violation rows, and a
manifest-table checkpoint for idempotent resume.

Target input (BASELINE.json input_hint)::

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Everything here is built on the public Apache Spark DataFrame / SQL API.
"""

__version__ = "0.1.0"

from hdfs_anomaly_detection_spark.session import get_spark  # noqa: F401
