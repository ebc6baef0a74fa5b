"""Distribution-drift scoring: KS and PSI between log-bucket histograms.

The sketch is a DDSketch-style bucket histogram built from plain Spark
aggregates. Every value maps to a monotone bucket key (:func:`bucket_key`):
zero has its own bucket, integers below ``EXACT_BELOW`` keep an exact
bucket each (text lengths and turn counts stay exact), and any other
value lands in a relative-error bucket whose key is less than a factor
γ above |v| (``sign(v)·γ^ceil(log_γ|v|)``, capped by ``ceil|v|`` below
the cutoff).
Per-(part_id, bucket) counts come from ONE ``groupBy().count()`` over
all of a run's drift metrics; histograms merge by adding counts, and
their size is bounded by the bucket count, not the row count.

Per-partition histograms of the current run are compared against
baseline histograms (same metric, same part_id) with KS over bucket
CDFs and PSI over baseline-quantile bins, on the driver in NumPy.
Driver-side work is O(partitions × buckets) — never proportional to
rows.

Reference analogue: percentile-threshold rarity labeling
(``training/hdfs_line_level_loader_v2.py:146-147``) and score/confidence
distribution dashboards (``grafana/grafana_test_queries.sql:88-96``).
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.constraints.runner import (
    VERDICTS_SCHEMA,
    part_id_expr,
)

GAMMA = 1.02  # log-bucket growth: a key sits less than 2% above |v|
EXACT_BELOW = 4096.0  # integers with |v| below this keep an exact bucket
_EPS = 1e-6

# a histogram: (sorted distinct bucket keys, counts)
Hist = tuple[np.ndarray, np.ndarray]


def bucket_key(v: Column) -> Column:
    """Monotone bucket key of a double column: v1 < v2 ⇒ key(v1) ≤ key(v2).

    * 0 → 0;
    * an integer with |v| < ``EXACT_BELOW`` → v itself (exact bucket);
    * any other |v| < ``EXACT_BELOW`` → min(ceil|v|, γ^ceil(log_γ|v|)).
      The min keeps the key monotone across the exact buckets: a bare
      log bucket would send 2.99 to 3.05, past the exact bucket of 3;
    * |v| ≥ ``EXACT_BELOW`` → γ^ceil(log_γ|v|);

    each with the sign of v. Every bucket is an interval of values, so
    a histogram's CDF at a bucket key is the exact ECDF at the bucket's
    right edge.
    """
    a = F.abs(v)
    log_bucket = F.pow(F.lit(GAMMA), F.ceil(F.log(a) / math.log(GAMMA)))
    mag = (
        F.when((a < EXACT_BELOW) & (a == F.floor(a)), a)
        .when(a < EXACT_BELOW, F.least(F.ceil(a).cast("double"), log_bucket))
        .otherwise(log_bucket)
    )
    return F.when(v == 0, F.lit(0.0)).otherwise(F.signum(v) * mag)


def metric_frame(
    fact: DataFrame, metric: str, n_buckets: int = 32, part_col: str | None = None
) -> DataFrame:
    """(part_id, value) projection for a named drift metric.

    'text_length' → length(text) per row; 'turn_count' → rows per
    conv_id (an aggregate, so the histogram counts conversation sizes);
    otherwise the metric is taken as a numeric column name. ``part_col``
    names an existing partition-id column (``ValidationRunner``'s
    ``part_col``) instead of the default ``pmod(xxhash64(conv_id), n)``.
    """
    pid = (
        F.col(part_col).cast("int") if part_col else part_id_expr(n_buckets=n_buckets)
    ).alias("part_id")
    if metric == "text_length":
        return fact.select(pid, F.length(F.col("text")).alias("value"))
    if metric == "turn_count":
        keys = ["conv_id"] + ([part_col] if part_col else [])
        per_conv = fact.groupBy(*keys).agg(F.count(F.lit(1)).alias("value"))
        return per_conv.select(pid, "value")
    return fact.select(pid, F.col(metric).alias("value"))


def histogram_table(frames: dict[str, DataFrame]) -> pd.DataFrame:
    """(metric, part_id, bucket, n) counts of every ``metric -> (part_id,
    value)`` frame, in ONE aggregate and one collect. Null values are
    skipped. The result has O(metrics × partitions × buckets) rows."""
    tagged = [
        mf.filter(F.col("value").isNotNull()).select(
            F.lit(m).alias("metric"),
            "part_id",
            bucket_key(F.col("value").cast("double")).alias("bucket"),
        )
        for m, mf in frames.items()
    ]
    return (
        reduce(DataFrame.unionByName, tagged)
        .groupBy("metric", "part_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )


def histogram(bucket: np.ndarray, n: np.ndarray) -> Hist:
    """Collapse (bucket, n) pairs — of one partition or of many — into one
    histogram. Merging histograms is exactly this: adding counts per
    bucket."""
    keys, idx = np.unique(np.asarray(bucket, dtype=float), return_inverse=True)
    counts = np.zeros(len(keys), dtype=np.int64)
    np.add.at(counts, idx, np.asarray(n, dtype=np.int64))
    return keys, counts


def _cdf(h: Hist, xs: np.ndarray) -> np.ndarray:
    """Share of the histogram's mass at bucket keys ≤ each of ``xs``."""
    keys, counts = h
    cum = np.concatenate(([0], np.cumsum(counts)))
    return cum[np.searchsorted(keys, xs, side="right")] / cum[-1]


def ks_statistic(a: Hist, b: Hist) -> float:
    """Two-sample KS statistic over the bucket CDFs.

    Error bound: 0 ≤ KS_exact − KS_bucketed ≤ the largest single-bucket
    mass (of either sample). The bucketed CDFs are the exact ECDFs at
    bucket edges, so the bucketed statistic never overshoots; inside a
    bucket, either ECDF moves by at most that bucket's mass. When every
    bucket holds one distinct value (integers below ``EXACT_BELOW``) the
    statistic is exact."""
    xs = np.union1d(a[0], b[0])
    return float(np.max(np.abs(_cdf(a, xs) - _cdf(b, xs))))


def psi(baseline: Hist, current: Hist, n_bins: int = 10) -> float:
    """Population stability index over baseline-quantile bins.

    The bin edges are the baseline's lower 1/n_bins … (n_bins−1)/n_bins
    quantiles on the bucket grid (the smallest bucket key whose baseline
    CDF reaches i/n_bins, in integer arithmetic), so the bins are unions
    of whole buckets and both shares are exact per bin."""
    keys, counts = baseline
    cum = np.cumsum(counts)
    edges = np.unique(keys[np.searchsorted(cum * n_bins, np.arange(1, n_bins) * cum[-1])])
    shares = []
    for h in (baseline, current):
        p = np.clip(np.diff(np.concatenate(([0.0], _cdf(h, edges), [1.0]))), _EPS, None)
        shares.append(p / p.sum())
    b_p, c_p = shares
    return float(np.sum((c_p - b_p) * np.log(c_p / b_p)))


def exact_ks_by_group(
    base: DataFrame,
    cur: DataFrame,
    value_col: str,
    group_cols: list[str],
    ks_col: str = "ks_stat",
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic per group:
    ``max_x |ECDF_base(x) - ECDF_cur(x)|`` over the pooled values —
    the quantity the bucketed :func:`ks_statistic` bounds, as a pure
    declarative plan DuckDB can replay.

    Shape (and why it scales): the pooled frame is reduced to one row
    per DISTINCT (group, value) by a map-side-combined groupBy BEFORE
    the window, so the per-group cumulative sum runs over the value
    DOMAIN (text lengths: thousands), never the row count (10^12); the
    per-group totals join is a broadcast (|groups| rows). Null values
    are excluded on both sides (same rule as ``histogram_table``); a
    group missing from either side yields no row (KS undefined — the
    drift path emits its NaN/failed flag for that case).

    Output: ``group_cols + [ks_col, n_base, n_cur]`` with the statistic
    rounded to 6 dp (cross-engine float hygiene).
    """
    v = F.col(value_col)
    a = base.filter(v.isNotNull()).select(
        *group_cols, v.alias("__v"), F.lit(1).alias("__ca"), F.lit(0).alias("__cb")
    )
    b = cur.filter(v.isNotNull()).select(
        *group_cols, v.alias("__v"), F.lit(0).alias("__ca"), F.lit(1).alias("__cb")
    )
    pooled = a.unionByName(b)
    # one row per distinct (group, value): the only full-data exchange,
    # map-side combined to the distinct-pair cardinality
    g = pooled.groupBy(*group_cols, "__v").agg(
        F.sum("__ca").alias("__na_x"), F.sum("__cb").alias("__nb_x")
    )
    w = Window.partitionBy(*group_cols).orderBy("__v")
    c = g.select(
        *group_cols,
        F.sum("__na_x").over(w).alias("__cca"),
        F.sum("__nb_x").over(w).alias("__ccb"),
    )
    totals = F.broadcast(
        g.groupBy(*group_cols).agg(
            F.sum("__na_x").alias("n_base"), F.sum("__nb_x").alias("n_cur")
        )
    )
    return (
        c.join(totals, group_cols, "inner")
        .filter((F.col("n_base") > 0) & (F.col("n_cur") > 0))
        .groupBy(*group_cols, "n_base", "n_cur")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("__cca") / F.col("n_base")
                        - F.col("__ccb") / F.col("n_cur")
                    )
                ),
                6,
            ).alias(ks_col)
        )
        .select(*group_cols, ks_col, "n_base", "n_cur")
    )


def compute_baselines(
    fact: DataFrame,
    metrics: list[str],
    n_buckets: int = 32,
    part_col: str | None = None,
) -> dict[str, pd.DataFrame]:
    """Baseline histograms per metric — a small (part_id, bucket, n) table
    each, keyed for ValidationRunner(baselines=...)."""
    tbl = histogram_table({m: metric_frame(fact, m, n_buckets, part_col) for m in metrics})
    return {
        m: tbl.loc[tbl["metric"] == m, ["part_id", "bucket", "n"]].reset_index(drop=True)
        for m in metrics
    }


def drift_verdicts(
    fact: DataFrame,
    checks: list,  # list[dsl.Drift]
    baselines: dict[str, pd.DataFrame],
    n_buckets: int = 32,
    metric_frames: dict[str, DataFrame] | None = None,
    part_col: str | None = None,
) -> DataFrame:
    """VERDICTS_SCHEMA rows: one per (part_id, drift-check), statistic =
    KS or PSI vs baseline, passed = statistic ≤ threshold.

    ``metric_frames``: optional pre-built (part_id, value) frames keyed
    by metric name — the runner passes projections of its persisted
    narrow frame so the histogram pass reads ~8 B/row from cache instead
    of re-scanning the wide fact table (one fact scan per run, Drift
    included). The histograms of every metric come from one aggregate.

    Besides the per-partition rows, each check emits ONE dataset-level
    verdict under the global ``part_id = -1`` (the SchemaConformance
    convention, ``constraints/runner.py``): the per-partition histograms
    of both sides are merged by adding counts and KS/PSI compared once —
    localized drift that stays under every per-partition threshold can
    still trip the rolled-up verdict, and vice versa a single noisy
    small partition no longer decides the dataset. On a subset run
    (incremental resume, max_parts chunk, streaming epoch) the −1 row
    compares the validated partitions against their OWN baseline slice —
    strictly the intersection of part_ids: a current partition with no
    baseline histogram contributes only its per-partition NaN/failed
    flag row, never the rolled-up merge."""
    spark = fact.sparkSession
    checks = [c for c in checks if c.metric in baselines]
    given = metric_frames or {}
    frames = {
        m: given[m] if m in given else metric_frame(fact, m, n_buckets, part_col)
        for m in {c.metric for c in checks}
    }
    cur_all = histogram_table(frames) if frames else None
    rows: list[tuple] = []
    for chk in checks:
        stat_of = ks_statistic if chk.method == "ks" else psi
        cur = cur_all[cur_all["metric"] == chk.metric]
        base = baselines[chk.metric]
        cur_pid, base_pid = cur["part_id"].to_numpy(), base["part_id"].to_numpy()
        # a current partition with no baseline gets a NaN/failed row and
        # stays out of the rolled-up merge, which runs over the
        # INTERSECTION of part_ids: a subset run must compare its
        # partitions against THEIR baseline slice — the full baseline vs a
        # partial current would fabricate drift from set composition alone
        groups = [(int(p), cur_pid == p, base_pid == p) for p in np.unique(cur_pid)]
        matched = np.intersect1d(cur_pid, base_pid)
        if len(matched):
            groups.append((-1, np.isin(cur_pid, matched), np.isin(base_pid, matched)))
        for pid, in_cur, in_base in groups:
            h = histogram(cur["bucket"].to_numpy()[in_cur], cur["n"].to_numpy()[in_cur])
            n = int(h[1].sum())
            if not in_base.any():
                rows.append((pid, chk.name, n, 0, float("nan"), False))
                continue
            b = histogram(base["bucket"].to_numpy()[in_base], base["n"].to_numpy()[in_base])
            stat = stat_of(b, h)
            rows.append((pid, chk.name, n, 0, stat, bool(stat <= chk.threshold)))
    return spark.createDataFrame(rows, VERDICTS_SCHEMA)
