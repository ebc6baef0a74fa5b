"""Physical-plan regression guards for the clustered validation plan.

The scale story depends on plan SHAPE, not just results: one full-frame
exchange, no text columns in any shuffle (except the raw text of a
TextEquals check, which rides the fact-side exchange so only rows whose
raw hash differs are canonicalized above the reference join), dims
broadcast or SMJ'd by size. These tests pin that shape so a future
change that silently reintroduces an exchange (e.g. the eqNullSafe
coalesce-wrapping regression) fails CI instead of only showing up as a
2x slowdown at scale.
"""

import re

import pytest
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.constraints import (
    RefIntegrity,
    TextEquals,
    Unique,
    ValidationRunner,
    default_transcript_checks,
)
from hdfs_anomaly_detection_spark.constraints.runner import reference_hashes
from hdfs_anomaly_detection_spark.fixtures import (
    FixtureConfig,
    build_fixture,
    clean_transcripts,
    corrupted_transcripts,
)

# the fact's text column, under its own name or the runner's alias
_TEXT_COL = re.compile(r"text|__te\d+_x")


@pytest.fixture(scope="module")
def fixture(spark):
    cfg = FixtureConfig(n_conversations=400)
    return cfg, build_fixture(spark, cfg)


def _flag_plan(spark, runner, fact):
    """(narrow frame, executed plan) of ``runner`` over ``fact``. Tiny
    fixtures would auto-broadcast every side and hide the at-scale SMJ
    shape; explicit hints (tools) still broadcast."""
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        frame = runner._flagged(fact).frame
        return frame, frame._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def _exchanges(plan):
    """(partitioning, output column names, child plan text) of every
    shuffle exchange in ``plan``."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange":
            attrs = node.output()
            names = {attrs.apply(i).name() for i in range(attrs.size())}
            out.append((node.outputPartitioning().toString(), names, node.child().toString()))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _text_cols(names):
    return {n for n in names if _TEXT_COL.fullmatch(n)}


@pytest.fixture(scope="module")
def te_flagged(spark, fixture, tmp_path_factory):
    cfg, fx = fixture
    # the reference corpus is static: hashed once and stored, as the
    # benchmarks do, so its canonicalize is not part of this plan
    path = str(tmp_path_factory.mktemp("ref") / "ref_hashes")
    reference_hashes(clean_transcripts(spark, cfg), TextEquals("text_equals")).write.parquet(path)
    runner = ValidationRunner(
        default_transcript_checks() + [TextEquals("text_equals")],
        n_buckets=8,
        dims={"conversations": fx.conversations, "tools": fx.tools},
        reference=spark.read.parquet(path),
    )
    return _flag_plan(spark, runner, fx.fact)


@pytest.fixture(scope="module")
def flagged_plan(te_flagged):
    return te_flagged[1].toString()


def test_single_full_frame_exchange(flagged_plan):
    # fact 1x + ref-hashes 1x + conversations dim 1x; the ref-equality
    # and conv-dim existence joins and the windows must NOT add exchanges
    # of their own, and the broadcast tools dim needs no dedup shuffle
    n_shuffles = len(re.findall(r"(?<!Broadcast)(?<!Reused)Exchange hash", flagged_plan)) + len(
        re.findall(r"Exchange RoundRobin", flagged_plan)
    )
    assert n_shuffles <= 3, f"plan regressed to {n_shuffles} shuffles:\n{flagged_plan[:4000]}"


def test_existence_joins_without_dedup_aggregate(flagged_plan):
    # every RefIntegrity and TextEquals check is one existence join; no
    # side is deduplicated by an aggregate first
    n_checks = sum(
        isinstance(c, (RefIntegrity, TextEquals)) for c in default_transcript_checks()
    ) + 1  # text_equals
    assert flagged_plan.count("ExistenceJoin(") == n_checks, flagged_plan[:4000]
    assert "HashAggregate" not in flagged_plan, flagged_plan[:4000]


def test_no_text_column_in_exchanges(spark, fixture):
    # without TextEquals the narrow frame never carries the transcript
    # text through a shuffle
    _, fx = fixture
    runner = ValidationRunner(
        default_transcript_checks(),
        n_buckets=8,
        dims={"conversations": fx.conversations, "tools": fx.tools},
    )
    _, plan = _flag_plan(spark, runner, fx.fact)
    exchanges = _exchanges(plan)
    assert exchanges, plan.toString()
    for part, names, _ in exchanges:
        assert not _text_cols(names), (part, sorted(names))


def test_text_equals_text_rides_only_the_fact_exchange(te_flagged):
    # the raw text crosses the one hash(conv_id) exchange of the fact
    # side and nothing else; canonicalize runs only above the reference
    # SMJ (no regexp_replace below any exchange), and the text is dropped
    # before the persisted narrow frame
    frame, plan = te_flagged
    exchanges = _exchanges(plan)
    carrying = [part for part, names, _ in exchanges if _text_cols(names)]
    assert len(carrying) == 1, carrying
    assert re.fullmatch(r"hashpartitioning\(conv_id#\d+, \d+\)", carrying[0]), carrying
    for part, _, child in exchanges:
        assert "regexp_replace" not in child, (part, child[:3000])
    assert "regexp_replace" in plan.toString()
    assert not _text_cols(frame.columns), frame.columns


def test_raw_text_reference_canonicalized_only_above_exchanges(spark, tmp_path):
    # a raw-text reference is gated like the fact side: its raw hash and
    # text ride its own hash(conv_id) exchange, and canonicalize runs on
    # both texts only above the SMJ, where the raw hashes differ
    cfg = FixtureConfig(n_conversations=200, text_mutation_rate=0.05)
    ref = clean_transcripts(spark, cfg)
    fact = corrupted_transcripts(spark, cfg)
    # upper-cased turns differ raw but not canonically: no violation
    fact = fact.withColumn(
        "text", F.when(F.col("turn_idx") % 3 == 0, F.upper("text")).otherwise(F.col("text"))
    )
    chk = TextEquals("text_equals")
    path = str(tmp_path / "ref_hashes")
    reference_hashes(ref, chk).write.parquet(path)
    raw = ValidationRunner([chk], n_buckets=8, reference=ref)
    _, plan = _flag_plan(spark, raw, fact)
    exchanges = _exchanges(plan)
    carrying = sorted(
        part for part, names, _ in exchanges
        if any(re.fullmatch(r"text|__te\d+_x|__ref\d+_x", n) for n in names)
    )
    assert len(carrying) == 2, carrying  # the fact's and the reference's
    for part, _, child in exchanges:
        assert "regexp_replace" not in child, (part, child[:3000])
    assert "regexp_replace" in plan.toString()

    def rows(runner):
        res = runner.run(fact)
        try:
            return sorted(tuple(r) for r in res.violations.collect())
        finally:
            res.unpersist()

    hashed = ValidationRunner([chk], n_buckets=8, reference=spark.read.parquet(path))
    got = rows(raw)
    assert got == rows(hashed) and got
    assert all(r[-1] == "canonical text differs from reference" for r in got)


def _node_names(df) -> list[str]:
    """Operator names of ``df``'s physical plan, through adaptive
    wrappers and query stages but not into cached relations."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name, kids = node.nodeName(), node.children()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        out.append(name)
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_verdicts_are_one_aggregate_over_the_cache(spark, fixture):
    # no explode, no checks grid: one partial/final aggregate over the
    # persisted frame, unpivoted by an Expand
    _, fx = fixture
    runner = ValidationRunner(
        default_transcript_checks(),
        n_buckets=8,
        dims={"conversations": fx.conversations, "tools": fx.tools},
    )
    res = runner.run(fx.fact)
    names = _node_names(res.verdicts)
    assert names.count("InMemoryTableScan") == 1, names
    assert names.count("HashAggregate") == 2, names
    assert "Expand" in names, names
    for op in ("Generate", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in names, names
    res.unpersist()


def test_unique_window_adds_no_sort_or_exchange(spark, fixture):
    _, fx = fixture
    dims = {"conversations": fx.conversations, "tools": fx.tools}

    def shape(checks):
        _, plan = _flag_plan(spark, ValidationRunner(checks, n_buckets=8, dims=dims), fx.fact)
        return plan.toString().count("Sort ["), len(_exchanges(plan)), plan.toString()

    without = shape([c for c in default_transcript_checks() if not isinstance(c, Unique)])
    # the default (conv_id, turn_idx) key, and a key of conv_id alone,
    # whose window must not sort (conv_id, conv_id) again
    for extra in ([], [Unique("unique_conv", columns=("conv_id",))]):
        sorts, exchanges, plan = shape(default_transcript_checks() + extra)
        assert "rank(" in plan  # the Unique check is a window flag here
        assert (sorts, exchanges) == without[:2], plan[:4000]


def test_tools_dim_broadcast_and_large_dims_smj(flagged_plan):
    assert "BroadcastExchange" in flagged_plan  # hinted 12-row tools dim
    assert "SortMergeJoin" in flagged_plan  # conversations dim + reference


def test_drift_rides_narrow_frame(spark, tmp_path, monkeypatch):
    """A Drift check must NOT re-scan the fact table: its metric is
    pre-computed into the persisted narrow frame and the digest pass
    reads that. The `metric_frame` fallback (a fresh fact projection) is
    poisoned so any regression to the two-scan plan fails loudly."""
    from hdfs_anomaly_detection_spark.constraints import Drift
    from hdfs_anomaly_detection_spark.sketch import drift as drift_mod
    from hdfs_anomaly_detection_spark.sketch.drift import compute_baselines

    cfg = FixtureConfig(n_conversations=100)
    clean = clean_transcripts(spark, cfg)
    baselines = compute_baselines(clean, ["text_length", "turn_count"], n_buckets=8)
    path = str(tmp_path / "fact")
    clean.write.parquet(path)
    fact = spark.read.parquet(path)

    def poisoned(*a, **k):
        raise AssertionError("Drift re-scanned fact (metric_frame fallback used)")

    monkeypatch.setattr(drift_mod, "metric_frame", poisoned)
    from hdfs_anomaly_detection_spark.constraints import Freshness
    from hdfs_anomaly_detection_spark.fixtures import EPOCH_BASE

    runner = ValidationRunner(
        default_transcript_checks(dims=False)
        + [
            Drift("drift_len", metric="text_length", method="ks", threshold=0.2),
            Drift("drift_turns", metric="turn_count", method="psi", threshold=0.25),
            # ts rides the narrow frame (MonotonicOrder tiebreak), so the
            # freshness max-ts aggregate must come from the cache too
            Freshness("fresh", ts_col="ts", max_age_seconds=10**9,
                      as_of=EPOCH_BASE + 10**6),
        ],
        n_buckets=8,
        baselines=baselines,
    )
    res = runner.run(fact)
    # every consumer (violations explode, uniqueness, drift digests)
    # reads the persisted narrow frame, not a fresh parquet scan (the
    # plan text repeats the cached relation's inner scan, so assert the
    # cache node rather than counting scan strings)
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan[:4000]
    verd = res.verdicts.toPandas()
    drift_rows = verd[verd["check_id"].isin(["drift_len", "drift_turns"])]
    # same data as baseline ⇒ KS/PSI ≈ 0 ⇒ all drift verdicts pass
    assert len(drift_rows) > 0 and drift_rows["passed"].all()
    fresh = verd[verd["check_id"] == "fresh"]
    assert len(fresh) > 0 and fresh["passed"].all()
    assert (fresh["statistic"] > 0).all()  # staleness vs fixed as_of
    res.unpersist()


def _plan_nodes(spark, *dfs):
    """Every physical-plan node of ``dfs``, through adaptive wrappers,
    query stages and cached relations, visiting each cached relation
    once (its plan is shared by every scan of the cache)."""
    identity = spark._jvm.System.identityHashCode
    seen = set()
    stack = [df._jdf.queryExecution().executedPlan() for df in dfs]
    while stack:
        node = stack.pop()
        yield node
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        elif name == "InMemoryTableScan":
            builder = node.relation().cacheBuilder()
            if identity(builder) not in seen:
                seen.add(identity(builder))
                stack.append(builder.cachedPlan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def test_unique_only_suite_is_one_window(spark, tmp_path):
    """A Unique-only suite clusters like any conversation check: one
    fact scan, one hash(conv_id) exchange under the window flag, and no
    aggregate keyed on the Unique columns; its violation rows equal a
    direct groupBy count."""
    fx = build_fixture(spark, FixtureConfig(n_conversations=50, dup_rate=0.05))
    path = str(tmp_path / "fact")
    fx.fact.write.parquet(path)
    fact = spark.read.parquet(path)
    runner = ValidationRunner([Unique("u")], n_buckets=4)
    _, plan = _flag_plan(spark, runner, fact)
    parts = [part for part, _, _ in _exchanges(plan)]
    assert len(parts) == 1, parts
    assert re.fullmatch(r"hashpartitioning\(conv_id#\d+, \d+\)", parts[0]), parts
    assert "Window" in plan.toString()

    res = runner.run(fact)
    nodes = list(_plan_nodes(spark, res.violations, res.verdicts))
    scans = [n for n in nodes if n.getClass().getSimpleName() == "FileSourceScanExec"]
    assert len(scans) == 1
    keyed = [
        n.simpleString(100) for n in nodes
        if n.nodeName() == "HashAggregate"
        and re.search(r"keys=\[[^\]]*\b(conv_id|turn_idx)#", n.simpleString(100))
    ]
    assert not keyed, keyed
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["detail"]) for r in res.violations.collect()
    )
    want = sorted(
        (r["conv_id"], r["turn_idx"], f"duplicate key count={r['n']}")
        for r in fact.groupBy("conv_id", "turn_idx").agg(F.count("*").alias("n"))
        .filter("n > 1").collect()
    )
    assert got == want and len(got) > 0
    res.unpersist()


def test_window_reuses_join_sort(flagged_plan):
    # the ordering window must sit directly above the join output without
    # its own Sort+Exchange pair: count Sort operators — 2 SMJs need at
    # most 4 (both sides each), window adds 0 or reuses
    n_sorts = flagged_plan.count("Sort [")
    assert n_sorts <= 5, f"unexpected extra sorts ({n_sorts}):\n{flagged_plan[:4000]}"


def test_centroid_outliers_partial_window_group_limit(spark):
    """centroid_outliers must never ship a label's FULL distance set to
    one reducer (few labels => full-frame skew, VERDICT r2). The rank
    filter adjacent to the window lets Catalyst plan a Partial
    WindowGroupLimit BELOW the exchange — map-side per-label top-k, so
    the label reducer receives <= k x n_partitions rows. Pin that node:
    a refactor breaking filter-over-window adjacency loses the pruning
    and must fail here."""
    from hdfs_anomaly_detection_spark.stats import centroid_outliers

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            centroid_outliers(df, k=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    # toString prints root first: the map-side (Partial) prune must
    # appear AFTER (= below) the label exchange, the Final one above it
    m_partial = re.search(r"WindowGroupLimit \[label#\d+\].*row_number\(\), 3, Partial", plan)
    m_final = re.search(r"WindowGroupLimit \[label#\d+\].*row_number\(\), 3, Final", plan)
    m_exch = re.search(r"Exchange hashpartitioning\(label#\d+, \d+\)", plan)
    assert m_partial and m_final and m_exch, plan[:4000]
    assert m_final.start() < m_exch.start() < m_partial.start(), plan[:4000]


def test_topk_per_group_partial_window_group_limit(spark):
    """q_topk_per_group keeps the rank filter adjacent to its window, so
    every input partition is pruned to its local per-group top-k
    map-side (Partial WindowGroupLimit below the exchange) — same scale
    guarantee as centroid_outliers, pinned for the driver query too."""
    from hdfs_anomaly_detection_spark.plans.driver_queries import QUERIES

    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            QUERIES["q_topk_per_group"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    m_partial = re.search(r"WindowGroupLimit .*row_number\(\), 3, Partial", plan)
    m_exch = re.search(r"Exchange hashpartitioning\(c_nationkey#\d+, \d+\)", plan)
    assert m_partial and m_exch, plan[:3000]
    assert m_exch.start() < m_partial.start(), plan[:3000]
