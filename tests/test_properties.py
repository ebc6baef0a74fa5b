"""Property-based tests (hypothesis): drift-sketch bucket keys and
merges (through a SparkSession), KS/PSI sanity, codec roundtrips, and
quantizer determinism — the numeric edge cases example tests miss."""

from __future__ import annotations

import struct

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.operators.multimodal import (
    decode_bmp,
    decode_wav,
    decode_y4m,
    encode_bmp,
    encode_wav_pcm16,
    encode_y4m,
)
from hdfs_anomaly_detection_spark.operators.similarity import _kmeans_fit
from hdfs_anomaly_detection_spark.sketch.drift import (
    EXACT_BELOW,
    GAMMA,
    bucket_key,
    histogram,
    histogram_table,
    ks_statistic,
    psi,
)

finite = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False)


@given(st.lists(finite, min_size=1, max_size=300), st.lists(finite, min_size=1, max_size=300))
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_bucket_merge_matches_union(spark, a, b):
    """Histograms of two partitions, merged by adding counts, are exactly
    the histogram of the union (part 2 holds a + b)."""
    rows = [(0, x) for x in a] + [(1, x) for x in b] + [(2, x) for x in a + b]
    tbl = histogram_table({"m": spark.createDataFrame(rows, "part_id int, value double")})
    parts, union = tbl[tbl["part_id"] < 2], tbl[tbl["part_id"] == 2]
    merged = histogram(parts["bucket"], parts["n"])
    whole = histogram(union["bucket"], union["n"])
    assert np.array_equal(merged[0], whole[0]) and np.array_equal(merged[1], whole[1])
    assert whole[1].sum() == len(a) + len(b)


@given(st.lists(finite, min_size=1, max_size=300))
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_bucket_key_monotone_with_relative_error(spark, xs):
    vals = np.sort(np.asarray(xs, float))
    df = spark.createDataFrame([(float(x),) for x in vals], "v double")
    keys = np.array([r[0] for r in df.select(bucket_key(F.col("v"))).collect()])
    assert np.all(np.diff(keys) >= 0)
    assert np.all(np.abs(keys - vals) <= (GAMMA - 1) * np.abs(vals) * (1 + 1e-9))
    exact = (vals == np.floor(vals)) & (np.abs(vals) < EXACT_BELOW)
    assert np.array_equal(keys[exact], vals[exact])


_hist = st.lists(
    st.tuples(finite, st.integers(1, 10_000)), min_size=1, max_size=300, unique_by=lambda t: t[0]
).map(lambda kv: (np.sort([k for k, _ in kv]), np.array([n for _, n in sorted(kv)])))


@given(_hist)
@settings(max_examples=60, deadline=None)
def test_ks_psi_self_comparison_is_null(h):
    assert ks_statistic(h, h) == 0.0
    assert psi(h, h) == 0.0


@given(_hist, _hist)
@settings(max_examples=60, deadline=None)
def test_ks_bounded_and_symmetric(a, b):
    k1, k2 = ks_statistic(a, b), ks_statistic(b, a)
    assert 0.0 <= k1 <= 1.0
    assert k1 == k2
    assert psi(a, b) >= 0.0


@given(st.integers(1, 24), st.integers(1, 24), st.integers(0, 2**31 - 1))
@settings(max_examples=50, deadline=None)
def test_bmp_roundtrip_any_shape(h, w, seed):
    px = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)


@given(st.integers(0, 4000), st.sampled_from([8000, 16000, 44100]), st.integers(0, 2**31 - 1))
@settings(max_examples=50, deadline=None)
def test_wav_roundtrip_any_length(n, rate, seed):
    samp = (
        np.random.default_rng(seed).integers(-32768, 32768, size=n).astype(np.int16)
    )
    got_rate, got = decode_wav(encode_wav_pcm16(samp, rate))
    assert got_rate == rate and np.array_equal(got, samp)


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=80, deadline=None)
def test_bmp_decoder_never_hangs_or_segfaults(payload):
    """Garbage in → ValueError/struct.error out (the exact exceptions
    extract_features catches), never anything else."""
    try:
        decode_bmp(b"BM" + payload)
    except (ValueError, struct.error):
        pass


@given(st.integers(0, 2**31 - 1), st.integers(2, 12))
@settings(max_examples=25, deadline=None)
def test_kmeans_deterministic(seed, k):
    sample = np.random.default_rng(seed).standard_normal((200, 8))
    c1 = _kmeans_fit(sample.copy(), k, seed=42)
    c2 = _kmeans_fit(sample.copy(), k, seed=42)
    assert np.array_equal(c1, c2)
    assert c1.shape == (k, 8)


# --------------------------------------------------------------- simhash

_token = st.text(
    alphabet=st.characters(blacklist_categories=("Zs", "Cc", "Cs")),
    min_size=1,
    max_size=8,
)
_doc = st.one_of(
    st.none(),
    st.lists(_token, min_size=0, max_size=30).map(" ".join),
)


@given(st.lists(_doc, min_size=1, max_size=40))
@settings(max_examples=80, deadline=None)
def test_simhash_vectorized_matches_reference_loop(texts):
    """The bit-plane bincount kernel (r3) must be bit-identical to the
    straightforward per-row/per-token vote loop for arbitrary unicode
    tokens, repeats, empties and nulls."""
    import hashlib

    import pandas as pd

    from hdfs_anomaly_detection_spark.operators.dedup import _simhash64_batch

    def reference(text):
        if text is None:
            return 0
        acc = [0] * 64
        for tok in str(text).lower().split():
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for i in range(64):
                acc[i] += 1 if (h >> i) & 1 else -1
        val = 0
        for i in range(64):
            if acc[i] > 0:
                val |= 1 << i
        return val - (1 << 64) if val >= (1 << 63) else val

    got = _simhash64_batch(pd.Series(texts, dtype=object)).tolist()
    assert got == [reference(t) for t in texts]


@given(
    st.integers(1, 6), st.integers(1, 9), st.integers(1, 9),
    st.integers(0, 2**31 - 1),
)
@settings(max_examples=50, deadline=None)
def test_y4m_roundtrip_any_shape(n, h, w, seed):
    fr = np.random.default_rng(seed).integers(
        0, 256, size=(n, h, w, 3), dtype=np.uint8
    )
    assert np.array_equal(decode_y4m(encode_y4m(fr)), fr)
