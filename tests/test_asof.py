"""asof_join vs pandas.merge_asof (independent oracle) + plan shape.

merge_asof is the battle-tested reference semantics: backward/forward
with allow_exact_matches=True and an optional tolerance — exactly what
asof_join claims. Seeded random inputs, every comparison exact.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.operators import asof_join

SEED = 20260817


def _mk(spark, n_left=300, n_right=200, n_keys=7, seed=SEED, ts_range=10_000):
    rng = np.random.default_rng(seed)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n_left),
            "ts": rng.integers(0, ts_range, n_left).astype("float64"),
            "lid": np.arange(n_left, dtype="int64"),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n_right),
            "ts": rng.integers(0, ts_range, n_right).astype("float64"),
            "rid": np.arange(n_right, dtype="int64"),
            "payload": rng.normal(size=n_right).round(6),
        }
    )
    # merge_asof is ambiguous for duplicate right (k, ts); dedupe to the
    # max rid (the tiebreak asof_join's docstring prescribes)
    right = (
        right.sort_values(["k", "ts", "rid"]).groupby(["k", "ts"], as_index=False).last()
    )
    return left, right


def _pandas_asof(left, right, direction, tolerance=None):
    out = pd.merge_asof(
        left.sort_values(["ts", "lid"]),
        right.sort_values("ts").rename(columns={"ts": "ts_r"}),
        left_on="ts",
        right_on="ts_r",
        by="k",
        direction=direction,
        tolerance=tolerance,
        allow_exact_matches=True,
    )
    return out.sort_values("lid").reset_index(drop=True)


def _spark_asof(spark, left, right, direction, tolerance=None):
    lf = spark.createDataFrame(left)
    rf = spark.createDataFrame(right)
    res = (
        asof_join(lf, rf, on=["k"], ts="ts", direction=direction, tolerance=tolerance)
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    return res


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize(
    "seed,n_keys,ts_range",
    [
        (SEED, 7, 10_000),  # sparse timestamps
        (SEED + 7, 1, 400),  # single key, dense exact-ts ties
        (SEED + 13, 25, 150),  # many keys, very dense ties
    ],
)
def test_matches_merge_asof(spark, direction, seed, n_keys, ts_range):
    left, right = _mk(spark, n_keys=n_keys, seed=seed, ts_range=ts_range)
    got = _spark_asof(spark, left, right, direction)
    want = _pandas_asof(left, right, direction)
    for col in ("rid", "payload", "ts_r"):
        pd.testing.assert_series_equal(
            got[col], want[col], check_names=False, check_dtype=False
        )


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_tolerance(spark, direction):
    left, right = _mk(spark, seed=SEED + 1)
    got = _spark_asof(spark, left, right, direction, tolerance=250.0)
    want = _pandas_asof(left, right, direction, tolerance=250.0)
    for col in ("rid", "payload", "ts_r"):
        pd.testing.assert_series_equal(
            got[col], want[col], check_names=False, check_dtype=False
        )


def test_exact_tie_matches(spark):
    """A right row AT the left timestamp matches in both directions."""
    left = pd.DataFrame({"k": [1], "ts": [100.0], "lid": [0]})
    right = pd.DataFrame({"k": [1], "ts": [100.0], "rid": [7], "payload": [1.5]})
    for direction in ("backward", "forward"):
        got = _spark_asof(spark, left, right, direction)
        assert got["rid"].iloc[0] == 7 and got["ts_r"].iloc[0] == 100.0


def test_unmatched_left_rows_null(spark):
    left = pd.DataFrame({"k": [1, 2], "ts": [50.0, 50.0], "lid": [0, 1]})
    right = pd.DataFrame({"k": [1], "ts": [60.0], "rid": [3], "payload": [0.5]})
    got = _spark_asof(spark, left, right, "backward")
    assert got["rid"].isna().all()  # only future right rows / absent key
    byk = _spark_asof(spark, left, right, "forward").sort_values("lid")
    assert byk["rid"].iloc[0] == 3  # k=1: future right row matches forward
    assert pd.isna(byk["rid"].iloc[1])  # k=2: absent key stays null


def test_duplicate_right_ts_tiebreak(spark):
    """Largest tiebreak wins deterministically at duplicate (k, ts)."""
    left = pd.DataFrame({"k": [1], "ts": [200.0], "lid": [0]})
    right = pd.DataFrame(
        {"k": [1, 1, 1], "ts": [150.0, 150.0, 150.0], "rid": [5, 9, 2], "payload": [0.1, 0.2, 0.3]}
    )
    lf, rf = spark.createDataFrame(left), spark.createDataFrame(right)
    got = asof_join(lf, rf, on=["k"], ts="ts", tiebreak="rid").toPandas()
    assert got["rid"].iloc[0] == 9


def test_null_payload_fields_stay_atomic(spark):
    """The matched right ROW is carried whole: a null field in the
    nearest right row must NOT be backfilled from an older right row
    (per-column last(ignorenulls) would stitch rows together)."""
    left = pd.DataFrame({"k": [1], "ts": [10.0], "lid": [0]})
    right = spark.createDataFrame(
        [(1, 5.0, 1.0, None), (1, 7.0, None, 2.0)],
        "k int, ts double, x double, y double",
    )
    lf = spark.createDataFrame(left)
    got = asof_join(lf, right, on=["k"], ts="ts").toPandas()
    assert pd.isna(got["x"].iloc[0])  # ts=7 row's x is null — stays null
    assert got["y"].iloc[0] == 2.0 and got["ts_r"].iloc[0] == 7.0


def test_column_collision_suffix(spark):
    left = pd.DataFrame({"k": [1], "ts": [100.0], "payload": [9.9], "lid": [0]})
    right = pd.DataFrame({"k": [1], "ts": [50.0], "payload": [1.1]})
    lf, rf = spark.createDataFrame(left), spark.createDataFrame(right)
    got = asof_join(lf, rf, on=["k"], ts="ts").toPandas()
    assert got["payload"].iloc[0] == 9.9 and got["payload_r"].iloc[0] == 1.1


def test_unresolvable_suffix_collision_raises(spark):
    """left already owns the suffixed name -> fail loudly, not with a
    duplicate-column plan error downstream."""
    left = pd.DataFrame({"k": [1], "ts": [1.0], "x": [0.0], "x_r": [0.0]})
    right = pd.DataFrame({"k": [1], "ts": [1.0], "x": [1.0]})
    lf, rf = spark.createDataFrame(left), spark.createDataFrame(right)
    with pytest.raises(ValueError, match="collide"):
        asof_join(lf, rf, on=["k"], ts="ts")
    # and the always-suffixed matched-ts name collides too
    left2 = pd.DataFrame({"k": [1], "ts": [1.0], "ts_r": [9.0]})
    with pytest.raises(ValueError, match="collide"):
        asof_join(spark.createDataFrame(left2), rf, on=["k"], ts="ts")


def test_null_ordering_values_unmatchable(spark):
    """merge_asof / SQL ASOF semantics: a null timestamp matches nothing
    — on either side, in either direction."""
    left = spark.createDataFrame(
        [(1, 1.0, 0), (1, None, 1)], "k int, ts double, lid int"
    )
    right = spark.createDataFrame(
        [(1, None, 777, 9.9), (1, 0.5, 5, 1.5)], "k int, ts double, rid int, payload double"
    )
    for direction in ("backward", "forward"):
        got = (
            asof_join(left, right, on=["k"], ts="ts", direction=direction)
            .toPandas()
            .set_index("lid")
        )
        assert len(got) == 2  # null-ts left row is KEPT, with null match
        assert pd.isna(got.loc[1, "rid"]) and pd.isna(got.loc[1, "ts_r"])
        # the non-null left row never matches the null-ts right row
        if direction == "backward":
            assert got.loc[0, "rid"] == 5
        else:
            assert pd.isna(got.loc[0, "rid"])


def test_string_tiebreak_native_ordering(spark):
    """Non-numeric tiebreaks order natively (a double cast would null
    them out and silently drop determinism)."""
    left = spark.createDataFrame([(1, 10.0, 0)], "k int, ts double, lid int")
    right = spark.createDataFrame(
        [(1, 5.0, "a"), (1, 5.0, "c"), (1, 5.0, "b")], "k int, ts double, rid string"
    )
    got = asof_join(left, right, on=["k"], ts="ts", tiebreak="rid").toPandas()
    assert got["rid"].iloc[0] == "c"


def test_null_tiebreak_never_outranks_nonnull(spark):
    left = spark.createDataFrame([(1, 10.0, 0)], "k int, ts double, lid int")
    right = spark.createDataFrame(
        [(1, 5.0, None, "null-tb"), (1, 5.0, "z", "real-tb")],
        "k int, ts double, rid string, tag string",
    )
    got = asof_join(left, right, on=["k"], ts="ts", tiebreak="rid").toPandas()
    assert got["tag"].iloc[0] == "real-tb"


def test_null_join_keys_unmatchable(spark):
    """SQL ASOF's NULL = NULL is not a match — null-key rows on either
    side must not pair up (Window.partitionBy would group them)."""
    left = spark.createDataFrame(
        [(None, 2.0, 0), (1, 2.0, 1)], "k int, ts double, lid int"
    )
    right = spark.createDataFrame(
        [(None, 1.0, 9), (1, 1.0, 5)], "k int, ts double, rid int"
    )
    got = (
        asof_join(left, right, on=["k"], ts="ts").toPandas().set_index("lid")
    )
    assert len(got) == 2  # null-key left row kept (left-join semantics)
    assert pd.isna(got.loc[0, "rid"])  # ...but matched to nothing
    assert got.loc[1, "rid"] == 5


def test_misspelled_tiebreak_raises_value_error(spark):
    left = spark.createDataFrame([(1, 1.0)], "k int, ts double")
    right = spark.createDataFrame([(1, 1.0, 2)], "k int, ts double, rid int")
    with pytest.raises(ValueError, match="tiebreak"):
        asof_join(left, right, on=["k"], ts="ts", tiebreak="rdi")


def test_plan_single_exchange_no_nested_loop(spark):
    """The whole as-of is ONE hash exchange on the key — no BNLJ, no
    cartesian, no per-side extra shuffles beyond the union inputs."""
    left, right = _mk(spark)
    lf, rf = spark.createDataFrame(left), spark.createDataFrame(right)
    plan = (
        asof_join(lf, rf, on=["k"], ts="ts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash == 1, f"expected exactly one hash exchange, got {n_hash}:\n{plan}"


def test_tolerance_on_large_numeric_keys(spark):
    # numeric ordering keys far beyond the Spark timestamp range
    # (~2.5e11 s): routing them through a timestamp cast would null the
    # tolerance gap and silently void valid matches (ADVICE r4)
    base = 4.0e15
    left = spark.createDataFrame(
        [(1, base + 100.0, "l0"), (1, base + 9.0e9, "l1")], "k int, ts double, lid string"
    )
    right = spark.createDataFrame(
        [(1, base, "r0")], "k int, ts double, rid string"
    )
    out = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left, right, on=["k"], ts="ts", tolerance=1.0e6
        ).collect()
    }
    assert out == {"l0": "r0", "l1": None}


# ------------------------------------------------ hot-key timeline split (r5)


def _collect_sorted(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("splits", [2, 4, 7])
def test_split_output_identical_random(spark, direction, splits):
    left, right = _mk(spark, seed=SEED + splits)
    l, r = spark.createDataFrame(left), spark.createDataFrame(right)
    base = asof_join(l, r, on=["k"], ts="ts", direction=direction, tiebreak="rid")
    split = asof_join(
        l, r, on=["k"], ts="ts", direction=direction, tiebreak="rid",
        hot_key_splits=splits,
    )
    assert _collect_sorted(split) == _collect_sorted(base)


def test_split_output_identical_planted_hot_key(spark):
    # one key holds ~90% of both sides — the scenario the rewrite exists
    # for; output must be identical and the sweep window must partition
    # by (key, segment), not key alone
    rng = np.random.default_rng(3)
    n = 4000
    hot = rng.random(n) < 0.9
    left = pd.DataFrame(
        {
            "k": np.where(hot, 0, rng.integers(1, 5, n)),
            "ts": rng.integers(0, 100_000, n).astype("float64"),
            "lid": np.arange(n, dtype="int64"),
        }
    )
    right = pd.DataFrame(
        {
            "k": np.where(rng.random(n // 2) < 0.9, 0, rng.integers(1, 5, n // 2)),
            "ts": rng.integers(0, 100_000, n // 2).astype("float64"),
            "rid": np.arange(n // 2, dtype="int64"),
        }
    )
    l, r = spark.createDataFrame(left), spark.createDataFrame(right)
    base = asof_join(l, r, on=["k"], ts="ts", tiebreak="rid")
    split = asof_join(l, r, on=["k"], ts="ts", tiebreak="rid", hot_key_splits=8)
    assert _collect_sorted(split) == _collect_sorted(base)
    # plan evidence: the sweep's exchange/partitioning includes the
    # segment column -> the hot key's rows spread over >1 task
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "__asof_split" in plan


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_split_cross_segment_carry(spark, direction):
    # rights live ONLY in the first (backward) / last (forward) segment;
    # left rows in every other segment must still match via carry-in
    lts = [float(t) for t in range(0, 1000, 10)]  # 100 left rows
    left = spark.createDataFrame(
        [(1, t, f"l{int(t)}") for t in lts], "k int, ts double, lid string"
    )
    rts_val = 5.0 if direction == "backward" else 995.0
    right = spark.createDataFrame(
        [(1, rts_val, "r_only")], "k int, ts double, rid string"
    )
    out = asof_join(
        left, right, on=["k"], ts="ts", direction=direction, hot_key_splits=5
    )
    matched = {r["lid"]: r["rid"] for r in out.collect()}
    for t in lts:
        want = (
            "r_only"
            if (t >= rts_val if direction == "backward" else t <= rts_val)
            else None
        )
        assert matched[f"l{int(t)}"] == want, (t, direction)


def test_split_with_tolerance_identical(spark):
    left, right = _mk(spark, seed=77)
    l, r = spark.createDataFrame(left), spark.createDataFrame(right)
    base = asof_join(l, r, on=["k"], ts="ts", tolerance=500.0, tiebreak="rid")
    split = asof_join(
        l, r, on=["k"], ts="ts", tolerance=500.0, tiebreak="rid", hot_key_splits=4
    )
    assert _collect_sorted(split) == _collect_sorted(base)


def test_split_forward_with_tolerance_identical(spark):
    # forward sweep (ts DESC, carry-ins chained from LATER segments) and
    # the tolerance null-out combined: split equals unsplit, and both
    # equal merge_asof
    left, right = _mk(spark, seed=78)
    l, r = spark.createDataFrame(left), spark.createDataFrame(right)
    kw = dict(on=["k"], ts="ts", direction="forward", tolerance=300.0, tiebreak="rid")
    base = asof_join(l, r, **kw)
    split = asof_join(l, r, hot_key_splits=4, **kw)
    assert _collect_sorted(split) == _collect_sorted(base)
    want = _pandas_asof(left, right, "forward", tolerance=300.0)
    got = base.toPandas().sort_values("lid").reset_index(drop=True)
    assert got["rid"].fillna(-1).astype("int64").tolist() == (
        want["rid"].fillna(-1).astype("int64").tolist()
    )
    assert got["rid"].notna().any() and got["rid"].isna().any()


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_split_null_ts_left_rows_stay_unmatched(spark, direction):
    left = spark.createDataFrame(
        [(1, None, "lnull"), (1, 50.0, "l50"), (1, 950.0, "l950")],
        "k int, ts double, lid string",
    )
    right = spark.createDataFrame(
        [(1, float(t), f"r{t}") for t in range(0, 1000, 100)],
        "k int, ts double, rid string",
    )
    out = asof_join(
        left, right, on=["k"], ts="ts", direction=direction, hot_key_splits=4
    )
    got = {r["lid"]: r["rid"] for r in out.collect()}
    assert got["lnull"] is None
    assert got["l50"] == ("r0" if direction == "backward" else "r100")
    assert got["l950"] == ("r900" if direction == "backward" else None)


def test_split_duplicate_right_ts_tiebreak(spark):
    # duplicate (k, ts) right rows across a segment boundary's donor
    # segment: the carry-out reduction must apply the same max-tiebreak
    # rule as the in-segment sweep
    left = spark.createDataFrame(
        [(1, float(t), f"l{t}") for t in range(0, 1000, 50)],
        "k int, ts double, lid string",
    )
    right = spark.createDataFrame(
        [(1, 5.0, "a"), (1, 5.0, "z"), (1, 5.0, "m")],
        "k int, ts double, rid string",
    )
    out = asof_join(
        left, right, on=["k"], ts="ts", tiebreak="rid", hot_key_splits=5
    )
    rids = {r["rid"] for r in out.filter("ts >= 5.0").collect()}
    assert rids == {"z"}


def test_split_degenerate_inputs(spark):
    # constant left ts -> all quantiles equal -> effectively one segment
    left = spark.createDataFrame(
        [(1, 10.0, "l0"), (1, 10.0, "l1")], "k int, ts double, lid string"
    )
    right = spark.createDataFrame([(1, 5.0, "r0")], "k int, ts double, rid string")
    out = asof_join(left, right, on=["k"], ts="ts", hot_key_splits=4)
    assert {r["rid"] for r in out.collect()} == {"r0"}
    # empty left -> no rows, no crash (quantile returns nothing)
    empty = spark.createDataFrame([], "k int, ts double, lid string")
    assert asof_join(empty, right, on=["k"], ts="ts", hot_key_splits=4).count() == 0


def test_split_rejects_bad_arg(spark):
    left = spark.createDataFrame([(1, 1.0, "x")], "k int, ts double, lid string")
    with pytest.raises(ValueError, match="hot_key_splits"):
        asof_join(left, left.drop("lid"), on=["k"], ts="ts", hot_key_splits=0)


def test_tolerance_on_date_and_string_ordering_columns(spark):
    # DateType and ISO-string ordering columns must keep working via the
    # timestamp hop (the numeric fast path must not capture them):
    # date has no direct double cast, string would null out
    import datetime as dt

    left = spark.createDataFrame(
        [(1, dt.date(2024, 1, 10), "l0")], "k int, ts date, lid string"
    )
    right = spark.createDataFrame(
        [(1, dt.date(2024, 1, 8), "r0"), (1, dt.date(2023, 1, 1), "r1")],
        "k int, ts date, rid string",
    )
    out = asof_join(left, right, on=["k"], ts="ts", tolerance=3 * 86400.0).collect()
    assert [(r["lid"], r["rid"]) for r in out] == [("l0", "r0")]

    lefts = spark.createDataFrame(
        [(1, "2024-01-10 00:00:00", "l0")], "k int, ts string, lid string"
    )
    rights = spark.createDataFrame(
        [(1, "2024-01-08 00:00:00", "r0")], "k int, ts string, rid string"
    )
    outs = asof_join(lefts, rights, on=["k"], ts="ts", tolerance=3 * 86400.0).collect()
    assert [(r["lid"], r["rid"]) for r in outs] == [("l0", "r0")]
