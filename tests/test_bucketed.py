"""Bucketed storage: a table written ``bucketBy(N, conv_id)`` with N equal
to the session's shuffle partitions runs the validation plan with no fact
exchange, because the planner elides the runner's
``repartition(N, conv_id)`` when the scan's bucketing already satisfies
it. No runner option is involved."""

from __future__ import annotations

import pandas as pd

from hdfs_anomaly_detection_spark.constraints import (
    ValidationRunner,
    default_transcript_checks,
)
from hdfs_anomaly_detection_spark.fixtures import FixtureConfig, build_fixture


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_aligned_bucket_table_runs_without_fact_exchange(spark):
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fx = build_fixture(
        spark, FixtureConfig(n_conversations=200, null_text_rate=0.02, dup_rate=0.02)
    )
    runner = ValidationRunner(default_transcript_checks(dims=False), n_buckets=n)
    writer = fx.fact.write.mode("overwrite").format("parquet")
    writer.bucketBy(n, "conv_id").saveAsTable("t_aligned")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        fact = spark.table("t_aligned")  # a table read keeps the bucket spec
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = _plan(runner._flagged(fact).frame)
            assert "Exchange" not in plan, plan[:3000]
            assert "Window" in plan  # the clustered checks really are planned
            # the pending-subset filter of an incremental ValidationJob run
            sub = fact.filter(runner.pid_expr().isin([3]))
            plan_sub = _plan(runner._flagged(sub).frame)
            assert "Exchange" not in plan_sub, plan_sub[:3000]
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

        # the same rows read as plain parquet (a path read drops the
        # bucket spec, so this run shuffles) give the same violations
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        plain = spark.read.parquet(f"{warehouse}/t_aligned")
        assert "Exchange hashpartitioning" in _plan(runner._flagged(plain).frame)
        key = ["part_id", "check_id", "conv_id", "turn_idx", "column", "detail"]
        got_res, exp_res = runner.run(fact), runner.run(plain)
        got = got_res.violations.toPandas()[key].astype(str).sort_values(key)
        exp = exp_res.violations.toPandas()[key].astype(str).sort_values(key)
        got_res.unpersist()
        exp_res.unpersist()
        assert len(exp) > 0
        pd.testing.assert_frame_equal(got.reset_index(drop=True), exp.reset_index(drop=True))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_aligned")
