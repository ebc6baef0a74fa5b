"""Bucketed-storage joins: the exchange-free layout for repeated
validation runs over the same fact table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.fixtures import (
    FixtureConfig,
    build_fixture,
)
from hdfs_anomaly_detection_spark.sources.bucketed import (
    read_bucketed,
    write_bucketed,
)


@pytest.fixture(scope="module")
def bucketed(spark):
    # warehouse.dir is a static conf; use the session default and drop
    # the tables afterwards
    fx = build_fixture(spark, FixtureConfig(n_conversations=200))
    write_bucketed(fx.fact, "b_fact", n_buckets=8)
    write_bucketed(
        fx.conversations, "b_convs", n_buckets=8
    )
    yield spark
    spark.sql("DROP TABLE IF EXISTS b_fact")
    spark.sql("DROP TABLE IF EXISTS b_convs")


def test_bucketed_join_has_no_exchange(bucketed):
    spark = bucketed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fact = read_bucketed(spark, "b_fact")
        dim = read_bucketed(spark, "b_convs")
        joined = fact.join(dim, "conv_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located buckets: the SMJ reads both sides with ZERO shuffles
        assert "SortMergeJoin" in plan, plan[:3000]
        assert "Exchange" not in plan, plan[:3000]
        # and the result is correct
        n = joined.count()
        assert n == fact.join(dim.hint("shuffle_hash"), "conv_id").count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_agg_has_no_exchange(bucketed):
    spark = bucketed
    fact = read_bucketed(spark, "b_fact")
    agg = fact.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:3000]
    assert agg.count() == fact.select("conv_id").distinct().count()


def test_pre_clustered_validation_zero_fact_exchange(bucketed):
    """ValidationRunner(pre_clustered=True) over a bucketed fact: the
    scan's bucket partitioning replaces the runner's own repartition,
    so the flagged plan (row predicates + ordering window) runs with
    ZERO exchanges — the engine's last full-frame shuffle moved into
    storage. Results must equal the plain-path run exactly."""
    from hdfs_anomaly_detection_spark.constraints import (
        MonotonicOrder,
        NotNull,
        ValidationRunner,
    )

    spark = bucketed
    fact = read_bucketed(spark, "b_fact")
    checks = [
        NotNull("not_null_text", column="text"),
        MonotonicOrder("turn_order"),
    ]

    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pre = ValidationRunner(checks, n_buckets=8, pre_clustered=True)
        flagged = pre._flagged(fact).frame
        plan = flagged._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:3000]
        assert "Window" in plan  # the ordering window really is there

        # the explicit-repartition path is only elided by the planner
        # when shuffle.partitions happens to EQUAL the bucket count;
        # with the common mismatch (shuffle partitions != buckets) it
        # re-shuffles — exactly what pre_clustered avoids
        plain = ValidationRunner(checks, n_buckets=8)
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        try:
            flagged2 = plain._flagged(fact).frame
            plan2 = flagged2._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" in plan2
            flagged3 = ValidationRunner(
                checks, n_buckets=8, pre_clustered=True
            )._flagged(fact).frame
            plan3 = flagged3._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan3, plan3[:3000]
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

    # identical violations either way
    a = pre.run(fact)
    b = plain.run(fact)
    key = ["part_id", "check_id", "conv_id", "turn_idx"]
    av = a.violations.select(*key).toPandas().sort_values(key).reset_index(drop=True)
    bv = b.violations.select(*key).toPandas().sort_values(key).reset_index(drop=True)
    assert av.equals(bv)
    a.unpersist()
    b.unpersist()


def test_pre_clustered_job_incremental_end_to_end(spark, tmp_path):
    """VERDICT r3 task 5: compose the two round-3 features end-to-end.
    Layout = partitioned by the verdict part_id (directory per resume
    unit, so files-mode fingerprints are PRECISE) and bucketed by
    conv_id (so pre_clustered validation runs with zero exchanges).
    Asserts: zero-exchange flagged plan, full run → no-op rerun, an
    in-place rewrite of ONE part_id directory re-runs exactly that
    partition — and the incremental outputs equal a from-scratch run."""
    import pandas as pd

    from hdfs_anomaly_detection_spark.constraints import (
        ValidationRunner,
        default_transcript_checks,
    )
    from hdfs_anomaly_detection_spark.manifest import ValidationJob

    n_buckets = 8
    fx = build_fixture(
        spark, FixtureConfig(n_conversations=200, null_text_rate=0.02)
    )
    runner = ValidationRunner(
        default_transcript_checks(dims=False),
        n_buckets=n_buckets,
        pre_clustered=True,
    )
    cols = fx.fact.columns
    (
        fx.fact.withColumn("pb", runner.pid_expr())
        .write.mode("overwrite")
        .partitionBy("pb")
        .bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id")
        .format("parquet")
        .saveAsTable("t_pc_inc")
    )
    try:
        fact = read_bucketed(spark, "t_pc_inc").select(*cols)

        # 1. the bucketed scan replaces the runner's exchange — even for
        # the pending-subset filter the incremental run applies
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            flagged = runner._flagged(fact).frame
            plan = flagged._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan[:3000]
            sub = fact.filter(runner.pid_expr().isin([3]))
            flagged_sub = runner._flagged(sub).frame
            plan_sub = flagged_sub._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan_sub, plan_sub[:3000]
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

        # 2. full run, then an unchanged input is a complete no-op
        job = ValidationJob(runner, str(tmp_path / "out"))  # files mode
        s1 = job.run(fact, run_id="r1")
        assert s1["processed"] == n_buckets and s1["skipped"] == 0
        s2 = job.run(fact, run_id="r2")
        assert s2["processed"] == 0 and s2["skipped"] == n_buckets

        # 3. rewrite ONE part_id's partition (new files, same rows but
        # one conversation's text nulled at turn 0) through the bucketed
        # writer — INSERT OVERWRITE with dynamic partition overwrite
        # keeps the bucket file layout valid
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        sub3 = spark.read.parquet(f"{warehouse}/t_pc_inc/pb=3").toPandas()
        conv = sub3["conv_id"].iloc[0]
        sub3.loc[(sub3["conv_id"] == conv) & (sub3["turn_idx"] == 0), "text"] = None
        old_pom = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                spark.createDataFrame(sub3[cols])
                .withColumn("pb", F.lit(3))
                .write.mode("overwrite")
                .insertInto("t_pc_inc")
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_pom)
        spark.sql("REFRESH TABLE t_pc_inc")

        fact3 = read_bucketed(spark, "t_pc_inc").select(*cols)
        s3 = job.run(fact3, run_id="r3")
        assert s3["processed"] == 1 and s3["skipped"] == n_buckets - 1
        man = job.manifest(spark).toPandas()
        assert set(man[man["run_id"] == "r3"]["part_id"]) == {3}

        # 4. incremental outputs == from-scratch run on the modified table
        direct = ValidationRunner(
            default_transcript_checks(dims=False), n_buckets=n_buckets
        ).run(spark.read.parquet(f"{warehouse}/t_pc_inc").select(*cols))
        key = ["part_id", "check_id", "conv_id", "turn_idx", "column", "detail"]
        got = job.violations(spark).toPandas()[key].astype(str).sort_values(key)
        exp = direct.violations.toPandas()[key].astype(str).sort_values(key)
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True), exp.reset_index(drop=True)
        )
        direct.unpersist()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pc_inc")
