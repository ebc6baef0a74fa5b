"""Log-bucket drift sketch: bucket keys, merge, KS/PSI accuracy against
exact statistics, and drift detection end to end."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.constraints import ValidationRunner, Drift
from hdfs_anomaly_detection_spark.fixtures import FixtureConfig, clean_transcripts
from hdfs_anomaly_detection_spark.sketch.drift import (
    EXACT_BELOW,
    GAMMA,
    bucket_key,
    compute_baselines,
    histogram,
    histogram_table,
    ks_statistic,
    metric_frame,
    psi,
)


def _hists(spark, samples: list[np.ndarray]) -> list:
    """Bucket histograms of each sample, built by the Spark path (sample
    i is part_id i)."""
    pdf = pd.DataFrame(
        {
            "part_id": np.concatenate([np.full(len(x), i) for i, x in enumerate(samples)]),
            "value": np.concatenate(samples).astype(float),
        }
    )
    tbl = histogram_table({"m": spark.createDataFrame(pdf)})
    parts = [tbl[tbl["part_id"] == i] for i in range(len(samples))]
    return [histogram(t["bucket"], t["n"]) for t in parts]


def test_bucket_keys_monotone_exact_and_relative(spark):
    vals = np.array(
        [0.0, -0.0, 1, 2, 2.5, 2.99, 3, 7, 0.001, 0.5, 0.999, 1e-300, 4095, 4095.5,
         4096, 4097, 1e6 + 0.5, 1e300]
    )
    vals = np.sort(np.concatenate([vals, -vals]))
    pdf = pd.DataFrame({"v": vals})
    keys = np.array(
        [r[0] for r in spark.createDataFrame(pdf).select(bucket_key(F.col("v"))).collect()]
    )
    # monotone in v, so every bucket is an interval of values
    assert np.all(np.diff(keys) >= 0)
    ints = (vals == np.floor(vals)) & (np.abs(vals) < EXACT_BELOW)
    assert np.array_equal(keys[ints], vals[ints])
    # the bare log bucket of 2.99 would pass the exact bucket of 3
    assert keys[vals == 2.99][0] <= 3.0
    nz = vals != 0
    assert np.all(np.abs(keys[nz] - vals[nz]) <= (GAMMA - 1) * np.abs(vals[nz]) * (1 + 1e-9))


def test_bucket_merge_equals_whole(spark):
    rng = np.random.default_rng(7)
    vals = rng.lognormal(3, 1, 40_000)
    parts = np.array_split(vals, 8)
    hs = _hists(spark, parts + [vals])
    merged = histogram(
        np.concatenate([k for k, _ in hs[:8]]), np.concatenate([n for _, n in hs[:8]])
    )
    whole = hs[8]
    assert np.array_equal(merged[0], whole[0]) and np.array_equal(merged[1], whole[1])
    assert merged[1].sum() == len(vals)
    # bounded by the log buckets over max/min plus the integer buckets
    # below the cutoff, regardless of row count
    log_buckets = np.log(vals.max() / vals.min()) / np.log(GAMMA) + 2
    assert len(whole[0]) <= log_buckets + min(vals.max(), EXACT_BELOW)


def test_ks_and_psi_sensitivity(spark):
    rng = np.random.default_rng(0)
    a, b, c = _hists(
        spark,
        [rng.normal(0, 1, 30_000), rng.normal(0, 1, 30_000), rng.normal(1.0, 1, 30_000)],
    )
    assert ks_statistic(a, b) < 0.03
    assert ks_statistic(a, c) > 0.3
    assert psi(a, b) < 0.02
    assert psi(a, c) > 0.5


def test_bucket_ks_error_bound_on_continuous_column(spark):
    """On a continuous column, 0 <= KS_exact - KS_bucketed <= the largest
    single-bucket mass of either sample (the bound stated in
    ``ks_statistic``'s docstring)."""
    rng = np.random.default_rng(5)
    a = rng.normal(100, 15, 30_000)
    b = rng.normal(103, 16, 30_000)
    ha, hb = _hists(spark, [a, b])
    exact = _np_ks(a, b)
    approx = ks_statistic(ha, hb)
    bound = max(ha[1].max() / len(a), hb[1].max() / len(b))
    assert -1e-12 <= exact - approx <= bound + 1e-12


def test_partition_digests_match_exact_quantiles(spark):
    cfg = FixtureConfig(n_conversations=300)
    fact = clean_transcripts(spark, cfg)
    mf = metric_frame(fact, "text_length", n_buckets=4)
    tbl = histogram_table({"text_length": mf})
    assert set(tbl["part_id"]) == set(range(4))
    pdf = mf.toPandas()
    for pid, g in tbl.groupby("part_id"):
        keys, counts = histogram(g["bucket"], g["n"])
        vals = pdf[pdf["part_id"] == pid]["value"].to_numpy()
        # integer lengths below the cutoff: one exact bucket per length
        want_keys, want_counts = np.unique(vals, return_counts=True)
        assert np.array_equal(keys, want_keys) and np.array_equal(counts, want_counts)
        median = keys[np.searchsorted(np.cumsum(counts), (counts.sum() + 1) // 2)]
        assert median == np.quantile(vals, 0.5, method="lower")


def test_drift_detected_end_to_end(spark):
    clean_cfg = FixtureConfig(n_conversations=400)
    drifted_cfg = FixtureConfig(n_conversations=400, length_drift_factor=1.5)
    clean = clean_transcripts(spark, clean_cfg)
    baselines = compute_baselines(clean, ["text_length", "turn_count"], n_buckets=4)

    checks = [
        Drift("drift_text_length_ks", metric="text_length", method="ks", threshold=0.1),
        Drift("drift_turn_count_psi", metric="turn_count", method="psi", threshold=0.1),
    ]
    # same data vs baseline → all pass
    ok = ValidationRunner(checks, n_buckets=4, baselines=baselines).run(clean)
    verd = ok.verdicts.toPandas()
    assert verd[verd["check_id"] == "drift_text_length_ks"]["passed"].all()
    assert verd[verd["check_id"] == "drift_turn_count_psi"]["passed"].all()
    # dataset-level rolled-up verdict: merged digests under part_id=-1
    # (SchemaConformance's global convention), one per drift check
    glob = verd[verd["part_id"] == -1]
    assert sorted(glob["check_id"]) == ["drift_text_length_ks", "drift_turn_count_psi"]
    assert glob["passed"].all() and (glob["n_rows"] > 0).all()

    # drifted lengths → text_length fails everywhere, turn_count still passes
    drifted = clean_transcripts(spark, drifted_cfg)
    bad = ValidationRunner(checks, n_buckets=4, baselines=baselines).run(drifted)
    verd = bad.verdicts.toPandas()
    tl = verd[verd["check_id"] == "drift_text_length_ks"]
    assert not tl["passed"].any()
    assert (tl["statistic"] > 0.1).all()
    tc = verd[verd["check_id"] == "drift_turn_count_psi"]
    assert tc["passed"].all()
    # the global -1 rows agree: drifted metric fails dataset-wide, the
    # undrifted one passes dataset-wide
    glob = verd[verd["part_id"] == -1].set_index("check_id")
    assert not glob.loc["drift_text_length_ks", "passed"]
    assert glob.loc["drift_turn_count_psi", "passed"]


def test_global_drift_on_subset_run_uses_baseline_slice(spark):
    """Review-found: an incremental/subset run must compare its
    partitions against THEIR baseline slice, not the whole-dataset
    baseline merge — otherwise the subset's composition alone
    fabricates (or masks) drift in the part_id=-1 row."""
    cfg = FixtureConfig(n_conversations=400)
    clean = clean_transcripts(spark, cfg)
    baselines = compute_baselines(clean, ["text_length"], n_buckets=8)
    checks = [Drift("d", metric="text_length", method="ks", threshold=0.1)]

    from hdfs_anomaly_detection_spark.constraints import ValidationRunner
    from hdfs_anomaly_detection_spark.constraints.runner import part_id_expr

    # validate ONLY two partitions of the SAME (undrifted) data: the
    # global verdict must pass — under the old whole-baseline merge the
    # statistic compared 2 partitions vs 8 and depended on composition
    sub = clean.filter(part_id_expr(n_buckets=8).isin([2, 5]))
    res = ValidationRunner(checks, n_buckets=8, baselines=baselines).run(sub)
    verd = res.verdicts.toPandas()
    glob = verd[verd["part_id"] == -1]
    assert len(glob) == 1
    assert glob.iloc[0]["passed"] and glob.iloc[0]["statistic"] < 0.05
    res.unpersist()


def test_partition_without_baseline_fails_and_stays_out_of_rollup(spark):
    """A current partition with no baseline histogram gets a NaN/failed
    row; the rolled-up -1 row compares only the matched partitions, and
    every statistic equals the exact KS of the same partition set."""
    from hdfs_anomaly_detection_spark.constraints.runner import part_id_expr
    from hdfs_anomaly_detection_spark.sketch import exact_ks_by_group

    pid = part_id_expr(n_buckets=8)
    clean = clean_transcripts(spark, FixtureConfig(n_conversations=400))
    drifted = clean_transcripts(spark, FixtureConfig(n_conversations=400, length_drift_factor=1.2))
    baselines = compute_baselines(clean.filter(pid < 4), ["text_length"], n_buckets=8)
    checks = [Drift("d", metric="text_length", method="ks", threshold=0.1)]
    res = ValidationRunner(checks, n_buckets=8, baselines=baselines).run(drifted)
    verd = res.verdicts.toPandas().set_index("part_id")
    res.unpersist()
    assert sorted(verd.index) == list(range(-1, 8))
    unmatched = verd.loc[[4, 5, 6, 7]]
    assert unmatched["statistic"].isna().all() and not unmatched["passed"].any()

    def lengths(df):
        per_part = df.select(pid.alias("g"), F.length("text").alias("v"))
        return per_part.unionByName(per_part.filter("g < 4").withColumn("g", F.lit(-1)))

    exact = exact_ks_by_group(lengths(clean), lengths(drifted), "v", ["g"]).toPandas()
    exact = exact.set_index("g")["ks_stat"]
    for g in (-1, 0, 1, 2, 3):
        assert verd.loc[g, "statistic"] == pytest.approx(exact[g], abs=1e-6)
    matched_rows = drifted.filter((pid < 4) & F.col("text").isNotNull()).count()
    assert verd.loc[-1, "n_rows"] == matched_rows


# --------------------------------------------------------- exact KS (r5)


def _np_ks(a: np.ndarray, b: np.ndarray) -> float:
    """Independent oracle: exact two-sample KS via sorted ECDFs."""
    xs = np.unique(np.concatenate([a, b]))
    ca = np.searchsorted(np.sort(a), xs, side="right") / len(a)
    cb = np.searchsorted(np.sort(b), xs, side="right") / len(b)
    return float(np.max(np.abs(ca - cb)))


def test_exact_ks_matches_numpy_oracle(spark):
    from hdfs_anomaly_detection_spark.sketch import exact_ks_by_group

    rng = np.random.default_rng(11)
    rows_a, rows_b = [], []
    truth = {}
    for g in range(3):
        a = rng.normal(g, 1.0, 4000).round(2)
        b = rng.normal(g + 0.3 * g, 1.0 + 0.1 * g, 3500).round(2)
        truth[g] = round(_np_ks(a, b), 6)
        rows_a += [(g, float(x)) for x in a]
        rows_b += [(g, float(x)) for x in b]
    base = spark.createDataFrame(rows_a, "grp int, v double")
    cur = spark.createDataFrame(rows_b, "grp int, v double")
    got = {
        r["grp"]: (r["ks_stat"], r["n_base"], r["n_cur"])
        for r in exact_ks_by_group(base, cur, "v", ["grp"]).collect()
    }
    assert set(got) == set(truth)
    for g in truth:
        assert got[g][0] == pytest.approx(truth[g], abs=2e-6)
        assert (got[g][1], got[g][2]) == (4000, 3500)


def test_exact_ks_null_values_and_missing_groups(spark):
    from hdfs_anomaly_detection_spark.sketch import exact_ks_by_group

    base = spark.createDataFrame(
        [(0, 1.0), (0, 2.0), (0, None), (1, 5.0)], "grp int, v double"
    )
    cur = spark.createDataFrame(
        [(0, 1.0), (0, None), (2, 9.0)], "grp int, v double"
    )
    out = exact_ks_by_group(base, cur, "v", ["grp"]).collect()
    # group 1 (base-only) and 2 (cur-only) yield no row; nulls excluded
    assert len(out) == 1 and out[0]["grp"] == 0
    assert (out[0]["n_base"], out[0]["n_cur"]) == (2, 1)
    # ECDFs: base {1:.5, 2:1}, cur {1:1} -> max gap .5 at x=1
    assert out[0]["ks_stat"] == pytest.approx(0.5)


def test_bucket_ks_equals_exact_ks_on_integers(spark):
    # integer values below the cutoff get exact buckets: the bucketed KS
    # IS the exact KS (binds v_drift_text_length to q_ks_exact)
    from hdfs_anomaly_detection_spark.sketch import exact_ks_by_group

    rng = np.random.default_rng(23)
    a = rng.lognormal(4.0, 0.6, 30_000).round(0)
    b = rng.lognormal(4.15, 0.65, 30_000).round(0)
    assert max(a.max(), b.max()) < EXACT_BELOW
    exact = _np_ks(a, b)
    ha, hb = _hists(spark, [a, b])
    assert ks_statistic(ha, hb) == pytest.approx(exact, abs=1e-12)
    # and the distributed exact path agrees with numpy exactly
    base = spark.createDataFrame([(0, float(x)) for x in a], "grp int, v double")
    cur = spark.createDataFrame([(0, float(x)) for x in b], "grp int, v double")
    got = exact_ks_by_group(base, cur, "v", ["grp"]).collect()[0]["ks_stat"]
    assert got == pytest.approx(exact, abs=2e-6)


def test_baselines_are_small_bucket_tables(spark):
    cfg = FixtureConfig(n_conversations=200)
    fact = clean_transcripts(spark, cfg)
    baselines = compute_baselines(fact, ["text_length", "turn_count"], n_buckets=4)
    assert sorted(baselines) == ["text_length", "turn_count"]
    for m, tbl in baselines.items():
        assert list(tbl.columns) == ["part_id", "bucket", "n"]
        assert set(tbl["part_id"]) == set(range(4))
    assert baselines["text_length"]["n"].sum() == fact.filter("text IS NOT NULL").count()
    assert baselines["turn_count"]["n"].sum() == fact.select("conv_id").distinct().count()
