"""M1 end-to-end slice: corrupted fixture → violations + verdicts, checked
against an independent pandas oracle (the reference's analogue: ground-truth
labels carried through the eval pipeline,
``evaluation/hdfs_anomaly_injection_loader.py:217-225``)."""

from __future__ import annotations

import pandas as pd
import pytest

from hdfs_anomaly_detection_spark.constraints import (
    ValidationRunner,
    default_transcript_checks,
)
from hdfs_anomaly_detection_spark.fixtures import (
    CORRUPTED,
    FixtureConfig,
    build_fixture,
    clean_transcripts,
)

N_BUCKETS = 8


@pytest.fixture(scope="module")
def run(spark):
    cfg = FixtureConfig(
        n_conversations=300,
        null_text_rate=0.02,
        bad_role_rate=0.02,
        neg_turn_rate=0.01,
        dup_rate=0.01,
        gap_rate=0.02,
        dangling_conv_rate=0.02,
        dangling_tool_rate=0.05,
    )
    fx = build_fixture(spark, cfg)
    fact_pd = fx.fact.toPandas()
    convs_pd = fx.conversations.toPandas()
    runner = ValidationRunner(
        default_transcript_checks(),
        n_buckets=N_BUCKETS,
        dims={"conversations": fx.conversations, "tools": fx.tools},
    )
    res = runner.run(fx.fact)
    viol = res.violations.toPandas()
    verd = res.verdicts.toPandas()
    return fx, fact_pd, convs_pd, viol, verd


def _keys(pdf: pd.DataFrame) -> set[tuple]:
    return set(zip(pdf["conv_id"], pdf["turn_idx"]))


def test_fixture_deterministic(spark):
    cfg = FixtureConfig(n_conversations=50)
    a = clean_transcripts(spark, cfg).orderBy("conv_id", "turn_idx").toPandas()
    b = clean_transcripts(spark, cfg).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert a["text"].notna().all()
    assert set(a["role"].unique()) <= {"user", "assistant", "tool"}


def test_null_text_exact_rows(run):
    _, fact_pd, _, viol, _ = run
    expected = _keys(fact_pd[fact_pd["text"].isna()])
    got = _keys(viol[viol["check_id"] == "not_null_text"])
    assert got == expected and len(expected) > 0


def test_role_domain_exact_rows(run):
    _, fact_pd, _, viol, _ = run
    expected = _keys(fact_pd[~fact_pd["role"].isin(["user", "assistant", "tool"]) & fact_pd["role"].notna()])
    got = _keys(viol[viol["check_id"] == "role_domain"])
    assert got == expected and len(expected) > 0


def test_turn_idx_range_exact_rows(run):
    _, fact_pd, _, viol, _ = run
    expected = _keys(fact_pd[fact_pd["turn_idx"] < 0])
    got = _keys(viol[viol["check_id"] == "turn_idx_range"])
    assert got == expected and len(expected) > 0


def test_unique_exact_keys(run):
    _, fact_pd, _, viol, _ = run
    counts = fact_pd.groupby(["conv_id", "turn_idx"]).size()
    expected = set(counts[counts > 1].index)
    got = _keys(viol[viol["check_id"] == "unique_turn"])
    assert got == expected and len(expected) > 0


def test_ref_integrity_conv_exact_rows(run):
    _, fact_pd, convs_pd, viol, _ = run
    valid = set(convs_pd["conv_id"])
    expected = _keys(fact_pd[~fact_pd["conv_id"].isin(valid)])
    got = _keys(viol[viol["check_id"] == "ref_conv"])
    assert got == expected and len(expected) > 0


def test_ref_integrity_tool_exact_rows(run):
    fx, fact_pd, _, viol, _ = run
    valid = set(fx.tools.toPandas()["tool"])
    mask = fact_pd["tool"].notna() & ~fact_pd["tool"].isin(valid)
    expected = _keys(fact_pd[mask])
    got = _keys(viol[viol["check_id"] == "ref_tool"])
    assert got == expected and len(expected) > 0


def test_ordering_gaps_detected(run):
    _, fact_pd, _, viol, _ = run
    # independent oracle: sort per conv by (turn_idx, ts); flag non-contiguous steps
    def conv_viols(g: pd.DataFrame) -> set[tuple]:
        g = g.sort_values(["turn_idx", "ts"])
        out = set()
        prev = None
        for _, r in g.iterrows():
            if prev is None:
                if r["turn_idx"] != 0:
                    out.add((r["conv_id"], r["turn_idx"]))
            elif r["turn_idx"] != prev + 1:
                out.add((r["conv_id"], r["turn_idx"]))
            prev = r["turn_idx"]
        return out

    expected: set[tuple] = set()
    for _, g in fact_pd.groupby("conv_id"):
        expected |= conv_viols(g)
    got = _keys(viol[viol["check_id"] == "turn_order"])
    assert got == expected and len(expected) > 0


def test_verdicts_consistent_with_violations(run):
    _, fact_pd, _, viol, verd = run
    # every (part_id, check_id) violation count in verdicts matches violations
    vc = viol.groupby(["part_id", "check_id"]).size()
    for _, r in verd.iterrows():
        expected = int(vc.get((r["part_id"], r["check_id"]), 0))
        assert int(r["n_violations"]) == expected
        assert bool(r["passed"]) == (expected == 0)
    # grid is complete: every partition × every check
    n_parts = verd["part_id"].nunique()
    assert len(verd) == n_parts * verd["check_id"].nunique()


def test_clean_fixture_all_pass(spark):
    fx = build_fixture(spark, FixtureConfig(n_conversations=100))
    runner = ValidationRunner(
        default_transcript_checks(),
        n_buckets=N_BUCKETS,
        dims={"conversations": fx.conversations, "tools": fx.tools},
    )
    res = runner.run(fx.fact)
    assert res.violations.count() == 0
    verd = res.verdicts.toPandas()
    assert verd["passed"].all()


def test_ref_integrity_null_key_semantics(spark):
    """Pins the SQL-FK NULL semantics (r1 ADVICE): a NULL dim pk never
    matches, and a NULL fk is flagged iff ignore_null=False."""
    from hdfs_anomaly_detection_spark.constraints import RefIntegrity

    fact = spark.createDataFrame(
        [("c1", 0, "t1"), ("c2", 0, None), ("c3", 0, "ghost")],
        "conv_id string, turn_idx int, tool string",
    )
    dim = spark.createDataFrame([("t1",), (None,)], "tool string")

    def run(ignore_null: bool) -> set[str]:
        res = ValidationRunner(
            [RefIntegrity("ri", fk=("tool",), dim="d", pk=("tool",),
                          broadcast=True, ignore_null=ignore_null)],
            dims={"d": dim},
        ).run(fact)
        return set(res.violations.toPandas()["conv_id"])

    assert run(ignore_null=True) == {"c3"}
    assert run(ignore_null=False) == {"c2", "c3"}


def test_corrupted_preset_runs(spark):
    fx = build_fixture(spark, CORRUPTED)
    runner = ValidationRunner(
        default_transcript_checks(),
        dims={"conversations": fx.conversations, "tools": fx.tools},
        reference=clean_transcripts(spark, CORRUPTED),
    )
    res = runner.run(fx.fact)
    viol = res.violations.toPandas()
    assert (viol["check_id"] == "turn_order").any()
    assert not res.verdicts.toPandas()["passed"].all()


def _verdicts_sorted(res) -> pd.DataFrame:
    verd = res.verdicts.toPandas()
    return verd.sort_values(["part_id", "check_id"]).reset_index(drop=True)


def test_run_leaves_no_state_on_runner(spark):
    """``run`` derives everything from its plan value: the runner's
    attributes are the same objects before and after a call."""
    fx = build_fixture(spark, FixtureConfig(n_conversations=50, gap_rate=0.02))
    runner = ValidationRunner(
        default_transcript_checks(),
        n_buckets=N_BUCKETS,
        dims={"conversations": fx.conversations, "tools": fx.tools},
    )
    before = dict(vars(runner))
    res = runner.run(fx.fact)
    res.verdicts.count()
    res.unpersist()
    assert vars(runner) == before


def test_shared_runner_concurrent_inputs(spark, run):
    """One runner shared by two threads (the ``foreachBatch`` shape) on
    two different inputs: each result equals its own sequential run."""
    from concurrent.futures import ThreadPoolExecutor

    from hdfs_anomaly_detection_spark.constraints import Drift
    from hdfs_anomaly_detection_spark.sketch.drift import compute_baselines

    fx = run[0]
    clean_cfg = FixtureConfig(n_conversations=100)
    runner = ValidationRunner(
        default_transcript_checks()
        + [Drift("drift_len", metric="text_length", method="ks", threshold=0.2)],
        n_buckets=N_BUCKETS,
        dims={"conversations": fx.conversations, "tools": fx.tools},
        baselines=compute_baselines(
            clean_transcripts(spark, clean_cfg), ["text_length"], n_buckets=N_BUCKETS
        ),
    )
    inputs = [fx.fact, build_fixture(spark, clean_cfg).fact]

    def verdicts_of(fact):
        res = runner.run(fact)
        try:
            return _verdicts_sorted(res), res.violations.count()
        finally:
            res.unpersist()

    sequential = [verdicts_of(f) for f in inputs]
    with ThreadPoolExecutor(max_workers=2) as pool:
        threaded = list(pool.map(verdicts_of, inputs))
    for (want, want_n), (got, got_n) in zip(sequential, threaded):
        pd.testing.assert_frame_equal(got, want)
        assert got_n == want_n
    # the two inputs really differ (the clean one's only violations are
    # conversations the corrupted fixture's dim dropped)
    assert sequential[0][1] > sequential[1][1]
