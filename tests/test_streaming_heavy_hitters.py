"""StreamingHeavyHitters: cross-batch sketch merge + candidate
semantics, unit (update() on batch frames) and wired through a real
file-stream foreachBatch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from hdfs_anomaly_detection_spark.streaming import StreamingHeavyHitters

SEED = 20260817


def _batches(n_batches=4, n=1500, n_keys=80, seed=SEED):
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n_batches):
        keys = np.minimum(rng.zipf(1.4, n) % n_keys, n_keys - 1)
        out.append(pd.DataFrame({"k": [f"key_{i:03d}" for i in keys]}))
    return out


def test_candidates_cover_true_heavy_hitters(spark):
    batches = _batches()
    threshold = 300
    shh = StreamingHeavyHitters("k", threshold, depth=4, width=1024)
    for pdf in batches:
        shh.update(spark.createDataFrame(pdf))
    got = shh.current()
    truth = pd.concat(batches).groupby("k").size()
    heavy = truth[truth >= threshold]
    # every true heavy hitter whose key recurs after crossing the
    # threshold is reported (zipf heads recur every batch), and every
    # reported estimate is an upper bound on the true count
    for key, cnt in heavy.items():
        assert key in got, f"missed true heavy hitter {key} (cnt={cnt})"
        assert got[key] >= cnt
    # one-sided error: estimates stay within e/width * N of truth here
    n_total = sum(len(b) for b in batches)
    for key, est in got.items():
        assert est - truth.get(key, 0) <= np.e / 1024 * n_total + 1


def test_key_crossing_threshold_mid_stream_is_caught(spark):
    """A key below threshold in early batches must be admitted once a
    later occurrence sees its GLOBAL estimate clear the bar."""
    shh = StreamingHeavyHitters("k", 15, depth=3, width=256)
    # 10 occurrences (below 15) ... then 10 more (crosses at 20)
    shh.update(spark.createDataFrame(pd.DataFrame({"k": ["slow"] * 10})))
    assert "slow" not in shh.current()
    shh.update(spark.createDataFrame(pd.DataFrame({"k": ["slow"] * 10})))
    assert shh.current()["slow"] >= 20


def test_empty_and_null_batches_are_noops(spark):
    shh = StreamingHeavyHitters("k", 5, depth=2, width=64)
    empty = spark.createDataFrame([], "k string")
    nulls = spark.createDataFrame([(None,), (None,)], "k string")
    shh.update(empty)
    shh.update(nulls)
    assert shh.current() == {}
    assert shh.sketch is None  # nothing countable ever arrived


def test_epoch_replay_folds_exactly_once(spark):
    """foreachBatch re-delivers an epoch after a mid-batch failure; a
    replayed epoch must not double-count."""
    shh = StreamingHeavyHitters("k", 5, depth=2, width=64)
    batch = spark.createDataFrame(pd.DataFrame({"k": ["a"] * 6}))
    shh.update(batch, epoch_id=0)
    shh.update(batch, epoch_id=0)  # replay
    assert shh.current()["a"] == 6  # not 12
    shh.update(batch, epoch_id=1)  # a genuinely new epoch folds
    assert shh.current()["a"] == 12


def test_save_load_roundtrip_resumes_counts(spark, tmp_path):
    shh = StreamingHeavyHitters("k", 10, depth=3, width=128)
    shh.update(spark.createDataFrame(pd.DataFrame({"k": ["h"] * 8})), epoch_id=0)
    shh.save(str(tmp_path / "state.json"))

    resumed = StreamingHeavyHitters.load(str(tmp_path / "state.json"))
    assert resumed.last_epoch == 0 and resumed.current() == {}
    resumed.update(
        spark.createDataFrame(pd.DataFrame({"k": ["h"] * 8})), epoch_id=1
    )
    assert resumed.current()["h"] >= 16  # pre-restart occurrences counted
    # and the replayed pre-restart epoch is still deduped
    resumed.update(
        spark.createDataFrame(pd.DataFrame({"k": ["h"] * 8})), epoch_id=0
    )
    assert resumed.current()["h"] < 24


def test_failed_fold_retry_refolds(spark, monkeypatch):
    """A Spark failure mid-fold must NOT advance the epoch watermark —
    the retry of that epoch has to count its rows (at-least-once, not
    at-most-once)."""
    from hdfs_anomaly_detection_spark.streaming import heavy_hitters as hh_mod

    shh = StreamingHeavyHitters("k", 5, depth=2, width=64)
    batch = spark.createDataFrame(pd.DataFrame({"k": ["a"] * 6}))

    real_build = hh_mod.build_cms
    calls = {"n": 0}

    def flaky_build(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("executor lost")
        return real_build(*args, **kwargs)

    monkeypatch.setattr(hh_mod, "build_cms", flaky_build)
    with pytest.raises(RuntimeError):
        shh.update(batch, epoch_id=0)
    assert shh.last_epoch is None and shh.current() == {}
    shh.update(batch, epoch_id=0)  # the retry must fold, not be skipped
    assert shh.current()["a"] == 6 and shh.last_epoch == 0


def test_save_crash_between_delete_and_rename_recoverable(spark, tmp_path):
    """write_small_swap's worst window (old deleted, rename pending)
    leaves the .tmp snapshot, and load() falls back to it."""
    import os

    shh = StreamingHeavyHitters("k", 3, depth=2, width=64)
    shh.update(spark.createDataFrame(pd.DataFrame({"k": ["a"] * 4})), epoch_id=0)
    path = str(tmp_path / "state.json")
    shh.save(path)
    # simulate the crash window: main gone, .tmp holds the snapshot
    os.rename(path, path + ".tmp")
    resumed = StreamingHeavyHitters.load(path)
    assert resumed.current() == shh.current() and resumed.last_epoch == 0


def test_save_rejects_non_json_keys(spark):
    import datetime

    shh = StreamingHeavyHitters("k", 1, depth=2, width=64)
    shh.candidates[datetime.datetime(2026, 1, 1)] = 5  # e.g. timestamp key_col
    with pytest.raises(TypeError, match="round-trip"):
        shh.save("/tmp/never-written.json")


def test_through_file_stream_foreach_batch(spark, tmp_path):
    """The real wiring: maxFilesPerTrigger=1 file stream, one update()
    per micro-batch, results equal the unit path."""
    batches = _batches(n_batches=3, n=800, seed=SEED + 1)
    path = str(tmp_path / "in")
    for i, pdf in enumerate(batches):
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(path)

    threshold = 150
    shh = StreamingHeavyHitters("k", threshold, depth=3, width=512)
    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = stream.writeStream.foreachBatch(
        lambda df, epoch: shh.update(df, epoch)
    ).option("checkpointLocation", str(tmp_path / "ckpt")).start()
    q.processAllAvailable()
    q.stop()

    truth = pd.concat(batches).groupby("k").size()
    heavy = truth[truth >= threshold]
    got = shh.current()
    for key, cnt in heavy.items():
        assert key in got and got[key] >= cnt


# ------------------------------------------------- eviction / support (r5)


def test_support_evicts_decayed_candidate(spark):
    # key 'hot' is heavy early, then silent: under a RELATIVE support
    # threshold the growing total raises the effective threshold past
    # its frozen estimate and the re-qualification pass evicts it
    shh = StreamingHeavyHitters("k", support=0.2, depth=3, width=512)
    b0 = pd.DataFrame({"k": ["hot"] * 60 + [f"x{i}" for i in range(40)]})
    shh.update(spark.createDataFrame(b0), 0)
    assert "hot" in shh.current()  # 60/100 = .6 >= .2
    for e in range(1, 5):
        filler = pd.DataFrame({"k": [f"f{e}_{i}" for i in range(200)]})
        shh.update(spark.createDataFrame(filler), e)
    # total = 100 + 4*200 = 900; eff = ceil(.2*900) = 180 > 60 -> evicted
    assert "hot" not in shh.current()
    # and a persistently heavy key under the same support survives
    shh2 = StreamingHeavyHitters("k", support=0.2, depth=3, width=512)
    for e in range(5):
        b = pd.DataFrame({"k": ["hot"] * 60 + [f"f{e}_{i}" for i in range(40)]})
        shh2.update(spark.createDataFrame(b), e)
    assert "hot" in shh2.current()


def test_absolute_threshold_never_evicts(spark):
    # CMS estimates are monotone: once past a fixed absolute threshold,
    # a key stays reported even if it goes silent (documented behavior)
    shh = StreamingHeavyHitters("k", threshold=50, depth=3, width=512)
    shh.update(spark.createDataFrame(pd.DataFrame({"k": ["hot"] * 60})), 0)
    for e in range(1, 4):
        shh.update(
            spark.createDataFrame(
                pd.DataFrame({"k": [f"f{e}_{i}" for i in range(100)]})
            ),
            e,
        )
    assert shh.current().get("hot", 0) >= 60


def test_requalification_refreshes_silent_candidate_estimate(spark):
    # a candidate absent from the current batch still gets its estimate
    # refreshed against the merged sketch (it may only grow via
    # collisions, but the refresh path must include it)
    shh = StreamingHeavyHitters("k", threshold=10, depth=3, width=512)
    shh.update(spark.createDataFrame(pd.DataFrame({"k": ["a"] * 20})), 0)
    est0 = shh.current()["a"]
    shh.update(spark.createDataFrame(pd.DataFrame({"k": ["b"] * 15})), 1)
    assert shh.current()["a"] >= est0
    assert "b" in shh.current()


def test_support_snapshot_roundtrip(spark, tmp_path):
    shh = StreamingHeavyHitters("k", support=0.3, depth=3, width=256)
    shh.update(
        spark.createDataFrame(pd.DataFrame({"k": ["a"] * 40 + ["b"] * 5})), 0
    )
    p = str(tmp_path / "snap.json")
    shh.save(p)
    back = StreamingHeavyHitters.load(p)
    assert back.support == pytest.approx(0.3)
    assert back.current() == shh.current()
    # resumed tracker keeps evicting under the restored support
    for e in range(1, 5):
        back.update(
            spark.createDataFrame(
                pd.DataFrame({"k": [f"f{e}_{i}" for i in range(100)]})
            ),
            e,
        )
    assert "a" not in back.current()


def test_rejects_no_positive_threshold():
    with pytest.raises(ValueError, match="threshold > 0 or support > 0"):
        StreamingHeavyHitters("k")
    with pytest.raises(ValueError, match="support must be"):
        StreamingHeavyHitters("k", support=1.5)


def test_load_legacy_snapshot_without_support(spark, tmp_path):
    """A snapshot written before ``support`` existed has no ``support``
    key and may hold ``threshold=0`` (then constructible); it restores
    as saved instead of tripping the constructor's validation."""
    import json

    from hdfs_anomaly_detection_spark.hadoop_io import write_small_swap

    src = StreamingHeavyHitters("k", 1, depth=3, width=64)
    src.update(spark.createDataFrame(pd.DataFrame({"k": ["a"] * 3 + ["b"]})), 4)
    legacy = {
        "key_col": "k",
        "threshold": 0,
        "depth": 3,
        "width": 64,
        "counters": src.sketch.counters.tolist(),
        "total": src.sketch.total,
        "candidates": list(src.current().items()),
        "last_epoch": 4,
    }
    p = str(tmp_path / "legacy.json")
    write_small_swap(spark, p, json.dumps(legacy))  # the snapshot writer

    back = StreamingHeavyHitters.load(p)
    assert (back.threshold, back.support, back.last_epoch) == (0, None, 4)
    assert back.current() == src.current() == {"a": 3, "b": 1}
    back.update(spark.createDataFrame(pd.DataFrame({"k": ["a", "c"]})), 5)
    assert back.current() == {"a": 4, "b": 1, "c": 1}
    back.update(spark.createDataFrame(pd.DataFrame({"k": ["a"]})), 4)  # replay
    assert back.current()["a"] == 4
    with pytest.raises(ValueError, match="threshold > 0 or support > 0"):
        StreamingHeavyHitters("k", 0)  # new trackers keep the validation
