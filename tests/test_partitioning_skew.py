"""Skew handling: a hot uniqueness key across many input splits, and a
hot LSH band bucket split by AQE's skew-join handling."""

from __future__ import annotations

from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.constraints import Unique, ValidationRunner


def test_unique_counts_hot_key_exactly(spark):
    """One key duplicated 10k times, spread over 32 input splits: the
    Unique window over its conversation, after the hash(conv_id)
    exchange gathers the splits, must report count=10000 exactly, on one
    violation row."""
    hot = spark.range(10_000).select(
        F.lit("conv_hot").alias("conv_id"), F.lit(7).alias("turn_idx")
    )
    cold = spark.range(1000).select(
        F.format_string("conv_%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
    )
    df = hot.unionByName(cold).repartition(32)
    res = ValidationRunner([Unique("u", columns=("conv_id", "turn_idx"))], n_buckets=8).run(df)
    viol = res.violations.toPandas()
    assert len(viol) == 1
    assert viol.iloc[0]["conv_id"] == "conv_hot"
    assert viol.iloc[0]["detail"] == "duplicate key count=10000"


def test_lsh_hot_band_aqe_skew_split(spark):
    """Planted degenerate LSH band bucket (300 identical docs collide in
    EVERY band): AQE's OptimizeSkewedJoin must split the hot (band, bh)
    bucket of the banded self-join (skew=true in the final plan) and the
    candidate set must still be the exact all-pairs of the flood.
    Guidance for real corpora lives in minhash_lsh_candidate_pairs'
    docstring: exact-dedup first; the quadratic bucket output itself is
    inherent to identical docs."""
    from hdfs_anomaly_detection_spark.operators import minhash_lsh_candidate_pairs

    n_hot = 300
    hot = spark.range(n_hot).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact document text repeated for every row").alias("text"),
    )
    cold = spark.range(1000, 1400).select(
        F.col("id").alias("doc_id"),
        F.format_string(
            "unique filler document %d with its own distinct words %d", "id", "id"
        ).alias("text"),
    )
    docs = hot.unionByName(cold).repartition(16)

    conf = spark.conf
    old = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # tiny thresholds so the planted bucket counts as skewed at test scale
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # keep the SMJ
    try:
        pairs = minhash_lsh_candidate_pairs(docs, verify_threshold=0.9)
        got = pairs.toPandas()
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            conf.set(k, v)

    # correctness under the split: exactly the all-pairs of the flood
    flood = got[(got["id_a"] < n_hot) & (got["id_b"] < n_hot)]
    assert len(flood) == n_hot * (n_hot - 1) // 2
    assert (flood["est_jaccard"] == 1.0).all()
    # and the final adaptive plan really split the hot bucket
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan[:4000]
