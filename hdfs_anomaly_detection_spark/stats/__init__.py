from hdfs_anomaly_detection_spark.stats.column_stats import (  # noqa: F401
    column_stats,
    length_histogram,
)
from hdfs_anomaly_detection_spark.stats.vector_stats import (  # noqa: F401
    centroid_distances,
    centroid_outliers,
    centroid_spread_stats,
    label_centroids,
)
