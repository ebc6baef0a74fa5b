"""``session.local_frame``: small driver-side tables as Arrow-backed
``LocalRelation``s.

A Python-list ``createDataFrame`` becomes an opaque ``LogicalRDD`` whose
every read starts Python worker tasks; a ``LocalRelation`` starts none
and Catalyst folds it. These tests pin the value semantics (nulls, NaN,
empty input, timestamps), the plans the runner builds from it and the
rule that package code builds no DataFrame from Python data any other
way.
"""

from __future__ import annotations

import ast
import datetime as dt
import math
import pathlib

import pytest
from pyspark.sql.types import StructType

import hdfs_anomaly_detection_spark as pkg
from hdfs_anomaly_detection_spark.constraints import (
    Drift,
    Freshness,
    SchemaConformance,
    ValidationRunner,
    default_transcript_checks,
)
from hdfs_anomaly_detection_spark.fixtures import FixtureConfig, build_fixture
from hdfs_anomaly_detection_spark.manifest import MANIFEST_SCHEMA, ValidationJob
from hdfs_anomaly_detection_spark.session import local_frame
from hdfs_anomaly_detection_spark.sketch.drift import compute_baselines

MIXED = "i int, b bigint, d double, f boolean, s string"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_nulls_survive_in_every_type(spark):
    rows = [(1, 2**40, 0.5, True, "x"), (None, None, None, None, None)]
    df = local_frame(spark, rows, MIXED)
    assert df.schema == StructType.fromDDL(MIXED)
    assert [tuple(r) for r in df.collect()] == rows


def test_nan_stays_nan_not_null(spark):
    got = local_frame(spark, [(float("nan"),), (None,)], "d double").collect()
    assert math.isnan(got[0]["d"])
    assert got[1]["d"] is None


def test_empty_rows_and_struct_schema(spark):
    st = StructType.fromDDL(MIXED)
    for schema in (MIXED, st):
        df = local_frame(spark, [], schema)
        assert df.schema == st and df.collect() == []
        assert _optimized(df).startswith("LocalRelation <empty>")


def test_manifest_timestamps_match_python_list_path(spark):
    """The manifest now hands aware UTC datetimes to ``local_frame``;
    they read back identical to the naive UTC values it used to pass to
    a Python-list ``createDataFrame``."""
    started = dt.datetime(2026, 3, 1, 12, 30, 15, 123456, tzinfo=dt.timezone.utc)
    finished = started + dt.timedelta(seconds=7, microseconds=9)

    def row(a, b):
        return ("run", 3, "done", a, b, 10, 1, 1, "fp", "{}")

    naive = [row(started.replace(tzinfo=None), finished.replace(tzinfo=None))]
    before = spark.createDataFrame(naive, MANIFEST_SCHEMA).collect()
    after = local_frame(spark, [row(started, finished)], MANIFEST_SCHEMA).collect()
    assert after == before
    assert after[0]["started_at"] == started.replace(tzinfo=None)


def test_manifest_rows_carry_run_times(spark, tmp_path):
    fx = build_fixture(spark, FixtureConfig(n_conversations=20))
    dims = {"conversations": fx.conversations, "tools": fx.tools}
    runner = ValidationRunner(default_transcript_checks(), n_buckets=4, dims=dims)
    job = ValidationJob(runner, str(tmp_path / "job"))
    # collect() renders timestamps as naive datetimes in the process zone
    t0 = dt.datetime.now().replace(microsecond=0)
    job.run(fx.fact)
    t1 = dt.datetime.now()
    rows = job.manifest(spark).collect()
    assert len(rows) == 4
    for r in rows:
        assert t0 <= r["started_at"] <= r["finished_at"] <= t1


@pytest.fixture(scope="module")
def drift_setup(spark):
    fx = build_fixture(spark, FixtureConfig(n_conversations=60, null_text_rate=0.05))
    baselines = compute_baselines(fx.fact, ["text_length", "turn_count"], n_buckets=4)
    checks = [
        Drift("drift_len", metric="text_length"),
        Drift("drift_turns", metric="turn_count", method="psi"),
    ]
    return fx, baselines, checks


def test_drift_only_verdicts_collect_without_jobs(spark, drift_setup):
    fx, baselines, checks = drift_setup
    res = ValidationRunner(checks, n_buckets=4, baselines=baselines).run(fx.fact)
    assert _optimized(res.verdicts).startswith("LocalRelation [")
    assert "\n" not in _optimized(res.verdicts).strip()  # the whole plan
    assert _optimized(res.violations).startswith("LocalRelation <empty>")
    sc = spark.sparkContext
    sc.setJobGroup("local_frame_drift_verdicts", "drift-only verdicts")
    try:
        rows = res.verdicts.collect()
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("local_frame_drift_verdicts") == []
    # 4 partitions + the rolled-up -1 row, per check; NaN-free here
    assert len(rows) == 10
    assert all(r["statistic"] is not None for r in rows)
    res.unpersist()


def test_no_python_rdd_in_output_plans(spark, drift_setup):
    fx, baselines, drift_checks = drift_setup
    checks = (
        default_transcript_checks()
        + [
            SchemaConformance("schema", expected_ddl="conv_id string, extra int"),
            Freshness("fresh", ts_col="ts", max_age_seconds=10**10),
        ]
        + drift_checks
    )
    res = ValidationRunner(
        checks,
        n_buckets=4,
        dims={"conversations": fx.conversations, "tools": fx.tools},
        baselines=baselines,
    ).run(fx.fact)
    for out in (res.violations, res.verdicts):
        plan = _optimized(out)
        assert "LocalRelation" in plan
        assert "LogicalRDD" not in plan, plan
    verdicts = res.verdicts.collect()
    assert {r["check_id"] for r in verdicts} >= {"schema", "fresh", "drift_len", "ref_tool"}
    schema_rows = res.violations.filter("check_id = 'schema'").collect()
    assert {r["column"] for r in schema_rows} >= {"extra"}
    res.unpersist()


def test_package_builds_no_dataframe_from_python_data():
    """Every ``createDataFrame`` in package code sits inside
    ``session.local_frame``, so no Python-list ``LogicalRDD`` can come
    back unnoticed."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            and (path.name, fn.name) == ("session.py", "local_frame")
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == []
