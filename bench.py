"""Benchmark harness (driver contract).

Runs the headline validation workload + representative operator queries
at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may run
on) and prints ONE JSON line::

    {"metric": "validated_turns_per_sec", "value": <throughput>,
     "unit": "sec", "queries": {name: sec, ...}, "sf": <sf>, ...}

The flagship measurement matches BASELINE.json's metric — validated
turns/sec of the full constraint suite (row checks + uniqueness +
referential integrity + ordering window) over a synthetic transcripts
table (~2M turns by default, cached under .bench_cache/). Two-cluster-
size scaling evidence lives in scripts/scaling_bench.py → BENCH/.
"""

from __future__ import annotations

import json
import os
import sys
import time
from statistics import median as _median

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hdfs_anomaly_detection_spark.constraints import (  # noqa: E402
    TextEquals,
    ValidationRunner,
    default_transcript_checks,
)
from hdfs_anomaly_detection_spark.fixtures import (  # noqa: E402
    CORRUPTED,
    FixtureConfig,
    build_fixture,
    clean_transcripts,
)
from hdfs_anomaly_detection_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HOST_CPUS = len(os.sched_getaffinity(0))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(HOST_CPUS)))
N_CONVS = int(os.environ.get("BENCH_CONVS", "250000"))
# repetitions per query; medians are reported (this host's cycle budget
# drifts between trials — single-shot numbers conflate plan changes
# with host noise, see BENCH/BASELINE.md)
REPS = max(1, int(os.environ.get("BENCH_REPS", "3")))
# the headline validation_full number gets MORE reps plus one discarded
# warm-up: the r4 record showed a 34% "regression" that a warm re-run
# disproved — a single throttled window must not dominate the median
V_REPS = max(1, int(os.environ.get("BENCH_V_REPS", str(max(REPS, 5)))))
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")

# representative operator queries timed at SF_DIR (subset of the driver set)
QUERY_NAMES = [
    "v_verdicts_grid",
    "v_column_stats",
    "q_join_enrich",
    "q_time_bucket",
    "q_topk_per_group",
    "q_count_distinct",
    # r2 operator families
    "d_lsh_verified_pairs",
    "s_centroid_stats",
    "q_session_agg",
    "q_stratified_sample",
    "s_cosine_topk",
    # r4 operator families
    "q_asof_join",
    "q_range_join",
    "q_heavy_hitters",
    # r5
    "q_ks_exact",
]


def bench_fixture_paths(spark):
    """Write-once cached transcripts fixture + dims for the throughput run."""
    cfg = FixtureConfig(
        n_conversations=N_CONVS,
        null_text_rate=CORRUPTED.null_text_rate,
        bad_role_rate=CORRUPTED.bad_role_rate,
        dup_rate=CORRUPTED.dup_rate,
        gap_rate=CORRUPTED.gap_rate,
        dangling_conv_rate=CORRUPTED.dangling_conv_rate,
        dangling_tool_rate=CORRUPTED.dangling_tool_rate,
    )
    tag = f"c{N_CONVS}_v3"  # v3: ref_hashes carry raw_hash
    paths = {n: f"{CACHE}/{tag}/{n}" for n in ("fact", "conversations", "tools", "ref_hashes")}
    if not os.path.exists(f"{CACHE}/{tag}/_DONE"):
        from hdfs_anomaly_detection_spark.constraints.runner import reference_hashes

        fx = build_fixture(spark, cfg)
        fx.fact.repartition(CPUS * 2).write.mode("overwrite").parquet(paths["fact"])
        fx.conversations.write.mode("overwrite").parquet(paths["conversations"])
        fx.tools.write.mode("overwrite").parquet(paths["tools"])
        # static reference corpus ⇒ canonical hashes precomputed once,
        # not re-canonicalized per validation run
        reference_hashes(
            clean_transcripts(spark, cfg), TextEquals("text_equals")
        ).repartition(CPUS * 2).write.mode("overwrite").parquet(paths["ref_hashes"])
        open(f"{CACHE}/{tag}/_DONE", "w").write("ok")
    return paths


def run_validation(spark, paths) -> tuple[float, int, int]:
    fact = spark.read.parquet(paths["fact"])
    runner = ValidationRunner(
        default_transcript_checks() + [TextEquals("text_equals")],
        n_buckets=max(32, CPUS),
        dims={
            "conversations": spark.read.parquet(paths["conversations"]),
            "tools": spark.read.parquet(paths["tools"]),
        },
        reference=spark.read.parquet(paths["ref_hashes"]),
    )
    t0 = time.time()
    res = runner.run(fact)
    n_violations = res.violations.count()
    res.verdicts.collect()
    elapsed = time.time() - t0
    res.unpersist()
    n_rows = fact.count()
    return elapsed, n_rows, n_violations


def main() -> None:
    spark = get_spark(parallelism=CPUS, shuffle_partitions=max(32, CPUS), app_name="bench")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.0

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    from hdfs_anomaly_detection_spark.plans import driver_queries

    for name in QUERY_NAMES:
        fn = driver_queries.QUERIES[name]
        trials = []
        for _ in range(REPS):
            t0 = time.time()
            fn(spark, SF_DIR).count()
            trials.append(time.time() - t0)
            driver_queries.release_persisted()
        timings[name] = round(_median(trials), 3)
        spread[name] = [round(min(trials), 3), round(max(trials), 3)]

    paths = bench_fixture_paths(spark)
    # discarded warm-up: first trial pays JIT/codegen/page-cache costs
    # (and often lands in a cold host-cycle window); recorded separately
    warmup_sec, _, _ = run_validation(spark, paths)
    v_trials, n_rows, n_violations = [], 0, 0
    for _ in range(V_REPS):
        elapsed, n_rows, n_violations = run_validation(spark, paths)
        v_trials.append(elapsed)
    timings["validation_full"] = round(_median(v_trials), 3)
    spread["validation_full"] = [round(min(v_trials), 3), round(max(v_trials), 3)]
    med = timings["validation_full"]
    throughput = n_rows / med if med > 0 else 0.0

    print(
        json.dumps(
            {
                "metric": "validated_turns_per_sec",
                "value": round(throughput, 1),
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "reps": REPS,
                "v_reps": V_REPS,
                "warmup_sec": round(warmup_sec, 3),
                "sf": sf,
                "validated_rows": n_rows,
                "violations_found": n_violations,
                "cpus": CPUS,
                "host_cpus": HOST_CPUS,
                "total_sec": round(sum(timings.values()), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
