from hdfs_anomaly_detection_spark.sketch.cms import (  # noqa: F401
    CountMinSketch,
    build_cms,
    cms_estimate,
    heavy_hitters,
)
from hdfs_anomaly_detection_spark.sketch.drift import (  # noqa: F401
    compute_baselines,
    drift_verdicts,
    exact_ks_by_group,
    ks_statistic,
    metric_frame,
    psi,
)
