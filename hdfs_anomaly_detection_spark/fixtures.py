"""Deterministic synthetic transcripts generator (seed-stable, JVM-side).

Mirrors the reference's controlled-rate anomaly-injection fixtures
(``evaluation/hdfs_anomaly_injection_loader.py:176-248``: seeded sampling
``random_state=42``, corpora at 5/10/15/20/40 % anomaly ratios) but is
generated entirely with Catalyst expressions over ``spark.range`` — no
driver-side loops, so the same code generates 5e3 or 1e10 turns.

Every corruption is gated by a deterministic hash predicate
(``xxhash64(conv_id, turn_idx, tag, seed) % M < rate*M``), so the exact
expected-violation row set is reproducible independently of the engine —
the reference's analogue is carrying ground-truth labels through the
pipeline (``hdfs_anomaly_injection_loader.py:217-225``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.session import local_frame

EPOCH_BASE = 1735689600  # 2025-01-01T00:00:00Z
ROLES = ["user", "assistant", "tool"]
N_TOOLS = 12
TOOL_NAMES = [f"tool_{i:02d}" for i in range(N_TOOLS)]
RATE_M = 1_000_000  # rate predicate modulus


@dataclass(frozen=True)
class FixtureConfig:
    """Violation-injection rates (fractions in [0,1]); all 0 = clean fixture."""

    n_conversations: int = 500
    seed: int = 42
    hot_conv_pct: int = 1          # % of conversations that are hot (skewed)
    hot_turns: int = 200           # turn count for hot conversations
    null_text_rate: float = 0.0
    null_role_rate: float = 0.0
    bad_role_rate: float = 0.0
    neg_turn_rate: float = 0.0
    dup_rate: float = 0.0          # duplicated (conv_id, turn_idx) rows
    dup_hot_boost: float = 10.0    # dup rate multiplier on hot conversations
    gap_rate: float = 0.0          # deleted interior turns (ordering gaps)
    dangling_conv_rate: float = 0.0  # conversations missing from the dim table
    dangling_tool_rate: float = 0.0  # tool names absent from the tools dim
    text_mutation_rate: float = 0.0  # text differs from reference copy
    length_drift_factor: float = 1.0  # >1 inflates text lengths (drift check)


CORRUPTED = FixtureConfig(
    null_text_rate=0.01, null_role_rate=0.005, bad_role_rate=0.01,
    neg_turn_rate=0.01, dup_rate=0.005, gap_rate=0.01,
    dangling_conv_rate=0.01, dangling_tool_rate=0.01,
    text_mutation_rate=0.01,
)


def _rate_pred(tag: str, rate: float, seed: int, *cols: Column) -> Column:
    """Deterministic Bernoulli(rate) per row, keyed by (cols, tag, seed)."""
    if rate <= 0.0:
        return F.lit(False)
    h = F.xxhash64(*cols, F.lit(tag), F.lit(seed))
    return F.pmod(h, F.lit(RATE_M)) < int(rate * RATE_M)


def _is_hot(conv_id: Column, cfg: FixtureConfig) -> Column:
    return F.pmod(F.xxhash64(conv_id, F.lit(cfg.seed), F.lit("size")), F.lit(100)) < cfg.hot_conv_pct


def clean_transcripts(spark: SparkSession, cfg: FixtureConfig) -> DataFrame:
    """Clean fact table: contiguous turn_idx, no nulls, valid enums/FKs."""
    convs = spark.range(cfg.n_conversations).select(
        F.format_string("conv_%08d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_seq"),
    )
    size_h = F.xxhash64(F.col("conv_id"), F.lit(cfg.seed), F.lit("size"))
    n_turns = (
        F.when(_is_hot(F.col("conv_id"), cfg), F.lit(cfg.hot_turns))
        .otherwise((F.pmod(size_h, F.lit(11)) + 2).cast("int"))
    )
    fact = convs.select(
        "conv_id",
        "conv_seq",
        F.explode(F.sequence(F.lit(0), n_turns - 1)).alias("turn_idx"),
    )
    th = F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.lit(cfg.seed), F.lit("text"))
    u = F.pmod(th, F.lit(1000)).cast("double") / 1000.0
    n_words = F.ceil(F.exp(F.lit(1.5) + u * 3.0 * cfg.length_drift_factor)).cast("int")
    text = F.concat(
        F.format_string("turn %d of %s : ", F.col("turn_idx"), F.col("conv_id")),
        F.repeat(F.format_string("tok%04d ", F.pmod(th, F.lit(9973))), n_words),
    )
    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]), F.pmod(F.col("turn_idx"), F.lit(3)).cast("int") + 1
    )
    tool_h = F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.lit(cfg.seed), F.lit("tool"))
    tool = F.when(
        role == "tool",
        F.element_at(F.array(*[F.lit(t) for t in TOOL_NAMES]), F.pmod(tool_h, F.lit(N_TOOLS)).cast("int") + 1),
    )
    ts = F.timestamp_seconds(F.lit(EPOCH_BASE) + F.col("conv_seq") * 3600 + F.col("turn_idx") * 30)
    return fact.select(
        F.col("conv_id").cast("string"),
        F.col("turn_idx").cast("int"),
        role.cast("string").alias("role"),
        text.cast("string").alias("text"),
        tool.cast("string").alias("tool"),
        ts.alias("ts"),
    )


def corrupted_transcripts(spark: SparkSession, cfg: FixtureConfig) -> DataFrame:
    """Apply the FIXTURES.md §4 injection matrix to the clean fact table."""
    df = clean_transcripts(spark, cfg)
    key = (F.col("conv_id"), F.col("turn_idx"))

    # interior-turn deletions → ordering gaps (keep turn 0 so convs survive)
    gap = _rate_pred("gap", cfg.gap_rate, cfg.seed, *key) & (F.col("turn_idx") > 0)
    df = df.filter(~gap)

    df = df.withColumn(
        "text",
        F.when(_rate_pred("null_text", cfg.null_text_rate, cfg.seed, *key), F.lit(None))
        .when(
            _rate_pred("text_mut", cfg.text_mutation_rate, cfg.seed, *key),
            F.concat(F.col("text"), F.lit(" MUTATED")),
        )
        .otherwise(F.col("text")),
    ).withColumn(
        "role",
        F.when(_rate_pred("null_role", cfg.null_role_rate, cfg.seed, *key), F.lit(None))
        .when(_rate_pred("bad_role", cfg.bad_role_rate, cfg.seed, *key), F.lit("sys_tem"))
        .otherwise(F.col("role")),
    ).withColumn(
        "tool",
        F.when(
            F.col("tool").isNotNull()
            & _rate_pred("bad_tool", cfg.dangling_tool_rate, cfg.seed, *key),
            F.lit("tool_ghost"),
        ).otherwise(F.col("tool")),
    ).withColumn(
        "turn_idx",
        F.when(
            _rate_pred("neg_turn", cfg.neg_turn_rate, cfg.seed, *key),
            -(F.col("turn_idx") + 1),
        ).otherwise(F.col("turn_idx")),
    )

    # duplicated keys, concentrated on hot conversations (exercises salting)
    if cfg.dup_rate > 0:
        base = cfg.dup_rate
        boosted = min(1.0, base * cfg.dup_hot_boost)
        dup_pred = F.when(
            _is_hot(F.col("conv_id"), cfg), _rate_pred("dup", boosted, cfg.seed, *key)
        ).otherwise(_rate_pred("dup", base, cfg.seed, *key))
        dupes = df.filter(dup_pred).withColumn(
            "text", F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" [dup]"))
        )
        df = df.unionByName(dupes)
    return df


def conversations_dim(spark: SparkSession, cfg: FixtureConfig) -> DataFrame:
    """conversations(conv_id, channel, created_ts); drops a deterministic
    subset when dangling_conv_rate > 0 so those facts become dangling FKs
    (reference analogue: BlockIds absent from anomaly_label.csv,
    ``training/hdfs_line_level_loader_v2.py:69-72``)."""
    convs = spark.range(cfg.n_conversations).select(
        F.format_string("conv_%08d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_seq"),
    )
    dangling = _rate_pred("dangling_conv", cfg.dangling_conv_rate, cfg.seed, F.col("conv_id"))
    h = F.xxhash64(F.col("conv_id"), F.lit(cfg.seed), F.lit("channel"))
    return convs.filter(~dangling).select(
        "conv_id",
        F.element_at(F.array(F.lit("web"), F.lit("slack"), F.lit("api")), F.pmod(h, F.lit(3)).cast("int") + 1).alias("channel"),
        F.timestamp_seconds(F.lit(EPOCH_BASE) + F.col("conv_seq") * 3600).alias("created_ts"),
    )


def tools_dim(spark: SparkSession, n_extra: int = 0) -> DataFrame:
    """tools(tool, owner, deprecated). n_extra > 0 pads to a large dim for
    the sort-merge-join path test."""
    base = local_frame(
        spark,
        [(t, f"team_{i % 3}", i % 5 == 4) for i, t in enumerate(TOOL_NAMES)],
        "tool string, owner string, deprecated boolean",
    )
    if n_extra <= 0:
        return base
    extra = spark.range(n_extra).select(
        F.format_string("xtool_%08d", F.col("id")).alias("tool"),
        F.format_string("team_%d", F.pmod(F.col("id"), F.lit(7))).alias("owner"),
        (F.pmod(F.col("id"), F.lit(5)) == 4).alias("deprecated"),
    )
    return base.unionByName(extra)


@dataclass
class Fixture:
    fact: DataFrame
    conversations: DataFrame
    tools: DataFrame
    cfg: FixtureConfig = field(default_factory=FixtureConfig)


def build_fixture(spark: SparkSession, cfg: FixtureConfig | None = None) -> Fixture:
    cfg = cfg or FixtureConfig()
    return Fixture(
        fact=corrupted_transcripts(spark, cfg),
        conversations=conversations_dim(spark, cfg),
        tools=tools_dim(spark),
        cfg=cfg,
    )
