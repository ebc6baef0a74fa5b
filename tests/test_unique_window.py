"""Unique as a window flag: on a clustered frame a Unique key that
contains conv_id is counted by a window over the conversation. Its
violation rows must equal an independent pandas ``groupby`` oracle and
the salted two-phase aggregate of an unclustered run of the same check,
on inputs with null keys and one key duplicated 10,000 times."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.constraints import (
    MonotonicOrder,
    Unique,
    ValidationRunner,
    default_transcript_checks,
)
from hdfs_anomaly_detection_spark.constraints.runner import part_id_expr
from hdfs_anomaly_detection_spark.fixtures import FixtureConfig, build_fixture

N_BUCKETS = 8
COLS = ["part_id", "check_id", "conv_id", "turn_idx", "column", "detail"]


def _py(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    v = v.item() if hasattr(v, "item") else v
    return int(v) if isinstance(v, float) and v.is_integer() else v


def _rows(pdf) -> list[tuple]:
    return sorted(
        (tuple(_py(v) for v in r) for r in pdf[COLS].itertuples(index=False)), key=repr
    )


def _oracle(fact, chk: Unique) -> list[tuple]:
    """Duplicate keys by pandas; ``p`` is the row's part_id, computed
    into the input (every row of a conversation shares it)."""
    pdf = fact.withColumn("p", part_id_expr(n_buckets=N_BUCKETS)).toPandas()
    key = list(chk.columns)
    g = pdf.groupby(key, dropna=False).agg(n=("p", "size"), p=("p", "first"))
    g = g[g["n"] > 1].reset_index()
    g["part_id"] = g["p"]
    g["check_id"] = chk.name
    for c in ("conv_id", "turn_idx"):
        if c not in key:
            g[c] = None
    g["column"] = ",".join(key)
    g["detail"] = "duplicate key count=" + g["n"].astype(str)
    return _rows(g)


def _unique_rows(runner: ValidationRunner, fact, chk: Unique, windowed: bool) -> list[tuple]:
    plan = runner._flagged(fact)
    assert (chk in [c for c, _ in plan.flags]) == windowed
    res = runner.run(fact)
    try:
        return _rows(res.violations.filter(F.col("check_id") == chk.name).toPandas())
    finally:
        res.unpersist()


def _assert_window_equals_oracle_and_salted(fact, suite, chk, dims=None) -> list[tuple]:
    want = _oracle(fact, chk)
    window = _unique_rows(ValidationRunner(suite, n_buckets=N_BUCKETS, dims=dims), fact, chk, True)
    salted = _unique_rows(ValidationRunner([chk], n_buckets=N_BUCKETS), fact, chk, False)
    assert window == want
    assert salted == want
    assert want
    return want


@pytest.fixture(scope="module")
def corrupted(spark):
    fx = build_fixture(
        spark,
        FixtureConfig(n_conversations=300, dup_rate=0.02, gap_rate=0.02, bad_role_rate=0.02),
    )
    return fx.fact, {"conversations": fx.conversations, "tools": fx.tools}


@pytest.fixture(scope="module")
def adversarial(spark):
    """Null conv_ids, null turn_idx, null roles, and one (conv_id,
    turn_idx) key repeated 10,000 times inside one conversation."""
    hot = spark.range(10_000).select(
        F.lit("conv_hot").alias("conv_id"),
        F.lit(7).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("id").alias("ts"),
    )
    i = F.col("id")
    cold = spark.range(3000).select(
        F.when(i % 10 == 0, None).otherwise(F.format_string("c%d", i % 300)).alias("conv_id"),
        F.when(i % 7 == 0, None).otherwise((i % 13).cast("int")).alias("turn_idx"),
        F.when(i % 5 == 0, None).otherwise(F.when(i % 2 == 0, "user").otherwise("tool")).alias("role"),
        (i + 10_000).alias("ts"),
    )
    return hot.unionByName(cold).repartition(16)


def test_default_suite_unique(corrupted):
    fact, dims = corrupted
    suite = default_transcript_checks()
    (chk,) = [c for c in suite if isinstance(c, Unique)]
    _assert_window_equals_oracle_and_salted(fact, suite, chk, dims)


def test_key_without_turn_idx(corrupted):
    fact, _ = corrupted
    chk = Unique("unique_role", columns=("conv_id", "role"))
    want = _assert_window_equals_oracle_and_salted(
        fact, [chk, MonotonicOrder("turn_order")], chk
    )
    assert all(r[COLS.index("turn_idx")] is None for r in want)


@pytest.mark.parametrize(
    "chk",
    [Unique("unique_turn"), Unique("unique_role", columns=("conv_id", "role"))],
    ids=["conv_turn", "conv_role"],
)
def test_null_keys_and_hot_key(adversarial, chk):
    suite = [
        Unique("unique_turn"),
        Unique("unique_role", columns=("conv_id", "role")),
        MonotonicOrder("turn_order"),
    ]
    want = _assert_window_equals_oracle_and_salted(adversarial, suite, chk)
    hot = [r for r in want if r[COLS.index("conv_id")] == "conv_hot"]
    assert len(hot) == 1
    if chk.name == "unique_turn":
        assert hot[0][-1] == "duplicate key count=10000"
        assert any(r[2] is None for r in want) and any(r[3] is None for r in want)
