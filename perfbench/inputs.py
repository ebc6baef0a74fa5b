"""Seeded benchmark inputs, generated once per (seed, size) and reused.

Everything here is load generation: none of it is timed. The tables are
built with ``fixtures.build_fixture`` (the package's own seeded
generator) and written as parquet under ``<work>/inputs/<key>/``; a
``_DONE`` marker makes a half-written cache invisible.

Layout of one cache entry:

* ``fact/``: the corrupted transcripts table (the validated input);
* ``clean/``: the clean copy (reference text and drift baselines);
* ``conversations/``, ``tools/``: the dimension tables;
* ``parts/``: ``(conv_id, part_id)`` with ``part_id =
  pmod(xxhash64(conv_id), N_BUCKETS)``, so the DuckDB oracle can group
  by partition without a Spark-compatible hash;
* ``parted/v0/part_id=*/``: ``fact`` with its ``part_id`` column,
  partitioned on disk (the ``incremental_job`` table);
* ``parted/v1/part_id=*/``: other seeded content for ``CHANGED_PARTS``
  only, which ``incremental_job`` swaps in and out.

``parted/`` is written only once a run asks for it.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.fixtures import (
    CORRUPTED,
    FixtureConfig,
    build_fixture,
    clean_transcripts,
)

N_BUCKETS = 32
# the fixed 1/8 of the partitions that incremental_job rewrites per op
CHANGED_PARTS = tuple(range(0, N_BUCKETS, 8))
FILES_PER_TABLE = 8
LAYOUT_VERSION = 2  # bump when the layout or the generator settings change


def fixture_config(n_convs: int, seed: int) -> FixtureConfig:
    """The corrupted bench fixture: every rate of ``CORRUPTED`` but its
    text mutation, so the only text edit is the ``[dup]`` suffix and raw
    and canonical inequality coincide."""
    return FixtureConfig(
        n_conversations=n_convs,
        seed=seed,
        null_text_rate=CORRUPTED.null_text_rate,
        null_role_rate=CORRUPTED.null_role_rate,
        bad_role_rate=CORRUPTED.bad_role_rate,
        neg_turn_rate=CORRUPTED.neg_turn_rate,
        dup_rate=CORRUPTED.dup_rate,
        gap_rate=CORRUPTED.gap_rate,
        dangling_conv_rate=CORRUPTED.dangling_conv_rate,
        dangling_tool_rate=CORRUPTED.dangling_tool_rate,
    )


def variant_seed(seed: int) -> int:
    return seed + 7919


def cache_dir(work: str, seed: int, n_convs: int) -> str:
    return os.path.join(work, "inputs", f"c{n_convs}_s{seed}_v{LAYOUT_VERSION}")


def _part_id(col: str = "conv_id"):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(N_BUCKETS)).cast("int")


def ensure_inputs(spark: SparkSession, work: str, seed: int, n_convs: int, partitioned: bool) -> str:
    """Return the cache entry for ``(seed, n_convs)``, writing what is
    missing first; ``partitioned`` asks for the ``parted/`` layout too.
    Each part is written to a temporary sibling and renamed into place."""
    final = cache_dir(work, seed, n_convs)
    if not os.path.exists(os.path.join(final, "_DONE")):
        _write_atomically(final, lambda tmp: _write_tables(spark, tmp, seed, n_convs))
    parted = os.path.join(final, "parted")
    if partitioned and not os.path.exists(parted):
        _write_atomically(parted, lambda tmp: _write_parted(spark, final, tmp, seed, n_convs))
    return final


def _write_atomically(final: str, write) -> None:
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished the same entry first
        shutil.rmtree(tmp, ignore_errors=True)


def _write_tables(spark: SparkSession, tmp: str, seed: int, n_convs: int) -> None:
    cfg = fixture_config(n_convs, seed)
    fx = build_fixture(spark, cfg)
    clean = clean_transcripts(spark, cfg)

    def write(df, name):
        df.coalesce(FILES_PER_TABLE).write.parquet(os.path.join(tmp, name))

    write(fx.fact, "fact")
    write(clean, "clean")
    write(fx.conversations, "conversations")
    write(fx.tools, "tools")
    write(clean.select("conv_id").distinct().select("conv_id", _part_id().alias("part_id")), "parts")


def _write_parted(spark: SparkSession, base: str, tmp: str, seed: int, n_convs: int) -> None:
    fact = spark.read.parquet(os.path.join(base, "fact"))
    fact.withColumn("part_id", _part_id()).repartition("part_id").write.partitionBy(
        "part_id"
    ).parquet(os.path.join(tmp, "v0"))
    other = build_fixture(spark, fixture_config(n_convs, variant_seed(seed))).fact
    other.withColumn("part_id", _part_id()).filter(
        F.col("part_id").isin(list(CHANGED_PARTS))
    ).repartition("part_id").write.partitionBy("part_id").parquet(os.path.join(tmp, "v1"))
