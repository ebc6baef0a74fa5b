"""SchemaConformance + Freshness checks and the table-catalog fallback."""

from __future__ import annotations

from hdfs_anomaly_detection_spark.constraints import (
    Freshness,
    SchemaConformance,
    ValidationRunner,
)
from hdfs_anomaly_detection_spark.fixtures import EPOCH_BASE, FixtureConfig, clean_transcripts
from hdfs_anomaly_detection_spark.sources.catalog import TableCatalog, iceberg_available

EXPECTED_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def test_schema_conformance_pass(spark):
    fact = clean_transcripts(spark, FixtureConfig(n_conversations=20))
    res = ValidationRunner([SchemaConformance("schema", expected_ddl=EXPECTED_DDL)]).run(fact)
    verd = res.verdicts.toPandas()
    row = verd[verd["check_id"] == "schema"].iloc[0]
    assert bool(row["passed"]) and row["part_id"] == -1
    assert res.violations.count() == 0


def test_schema_conformance_detects_drift(spark):
    fact = clean_transcripts(spark, FixtureConfig(n_conversations=20))
    mutated = fact.withColumnRenamed("tool", "tool_name").withColumn(
        "turn_idx", fact["turn_idx"].cast("bigint")
    )
    res = ValidationRunner([SchemaConformance("schema", expected_ddl=EXPECTED_DDL)]).run(mutated)
    viol = res.violations.toPandas()
    details = dict(zip(viol["column"], viol["detail"]))
    assert "tool" in details and details["tool"].startswith("missing column")
    assert "tool_name" in details and details["tool_name"].startswith("unexpected")
    assert "turn_idx" in details and "type mismatch" in details["turn_idx"]
    verd = res.verdicts.toPandas()
    assert not verd[verd["check_id"] == "schema"]["passed"].iloc[0]


def _plan_leaves(df) -> set[str]:
    """Leaf node names of ``df``'s physical plan, through adaptive
    wrappers and query stages but not into cached relations."""
    out, stack = set(), [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name, kids = node.nodeName(), node.children()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        elif kids.size() == 0:
            out.add(name)
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_freshness_verdicts(spark):
    fact = clean_transcripts(spark, FixtureConfig(n_conversations=50))
    # data timestamps start at EPOCH_BASE; as_of shortly after → fresh
    # conv timestamps span EPOCH_BASE .. EPOCH_BASE + 50*3600; as_of after
    fresh = ValidationRunner(
        [Freshness("fresh", ts_col="ts", max_age_seconds=10**9, as_of=EPOCH_BASE + 60 * 3600)],
        n_buckets=4,
    ).run(fact)
    verd = fresh.verdicts.toPandas()
    f = verd[verd["check_id"] == "fresh"]
    assert len(f) == 4 and f["passed"].all()
    assert (f["statistic"] >= 0).all()
    # a Freshness-only suite still reads ts from the cached narrow frame:
    # outside the cache the verdicts plan has no scan of the fact table
    leaves = _plan_leaves(fresh.verdicts)
    assert "InMemoryTableScan" in leaves
    assert leaves <= {"InMemoryTableScan", "LocalTableScan"}, leaves
    fresh.unpersist()

    stale = ValidationRunner(
        [Freshness("fresh", ts_col="ts", max_age_seconds=60, as_of=EPOCH_BASE + 10**8)],
        n_buckets=4,
    ).run(fact)
    f = stale.verdicts.toPandas()
    f = f[f["check_id"] == "fresh"]
    assert not f["passed"].any()


def test_catalog_parquet_fallback_roundtrip(spark, tmp_path):
    assert not iceberg_available(spark)  # sandbox has no iceberg jar
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    fact = clean_transcripts(spark, FixtureConfig(n_conversations=30))
    cat.write(fact, "transcripts")
    back = cat.read("transcripts")
    assert back.count() == fact.count()
    snap1 = cat.snapshot("transcripts")
    cat.append(fact.limit(5), "transcripts")
    snap2 = cat.snapshot("transcripts")
    assert snap1 != snap2  # lineage token tracks content changes
