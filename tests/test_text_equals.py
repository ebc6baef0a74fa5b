"""TextEquals invariant: exact rows, canonicalization tolerance, the
precomputed-reference-hash fast path, and the raw-hash gate against a
pure-Python replica of ``canonicalize``."""

from __future__ import annotations

import re
import string

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.constraints import TextEquals, ValidationRunner
from hdfs_anomaly_detection_spark.constraints.runner import reference_hashes
from hdfs_anomaly_detection_spark.fixtures import (
    FixtureConfig,
    clean_transcripts,
    corrupted_transcripts,
)
from hdfs_anomaly_detection_spark.functions.text import _CANON_PATTERNS


@pytest.fixture(scope="module")
def pair(spark):
    cfg = FixtureConfig(n_conversations=200, text_mutation_rate=0.03)
    ref = clean_transcripts(spark, cfg)
    fact = corrupted_transcripts(spark, cfg)
    return cfg, ref, fact


def test_exact_mutated_rows_detected(pair, spark):
    cfg, ref, fact = pair
    res = ValidationRunner([TextEquals("te")], reference=ref, n_buckets=8).run(fact)
    got = {
        (r["conv_id"], r["turn_idx"])
        for r in res.violations.filter("check_id = 'te'").collect()
    }
    both = fact.alias("f").join(ref.alias("r"), ["conv_id", "turn_idx"])
    expected = {
        (r["conv_id"], r["turn_idx"])
        for r in both.filter(F.col("f.text") != F.col("r.text")).collect()
    }
    assert got == expected and len(expected) > 0


def test_precomputed_hashes_identical(pair, spark):
    _, ref, fact = pair
    chk = TextEquals("te")
    direct = ValidationRunner([chk], reference=ref, n_buckets=8).run(fact)
    hashed_ref = reference_hashes(ref, chk)
    assert set(hashed_ref.columns) == {"conv_id", "turn_idx", "canon_hash", "raw_hash"}
    via_hash = ValidationRunner([chk], reference=hashed_ref, n_buckets=8).run(fact)
    key = ["conv_id", "turn_idx"]
    a = sorted(map(tuple, direct.violations.select(*key).toPandas().values.tolist()))
    b = sorted(map(tuple, via_hash.violations.select(*key).toPandas().values.tolist()))
    assert a == b and len(a) > 0


def test_reference_without_raw_hash_raises(pair, spark):
    # a pre-hashed reference from before raw_hash existed cannot gate the
    # canonicalization; it must be rebuilt, not silently compared
    _, ref, fact = pair
    chk = TextEquals("te")
    stale = reference_hashes(ref, chk).drop("raw_hash")
    with pytest.raises(ValueError, match=r"reference_hashes\(\)"):
        ValidationRunner([chk], reference=stale, n_buckets=8).run(fact)


def test_canonicalization_tolerates_entity_renumbering(spark):
    # same text modulo timestamps/numbers → canonical equal → NO violation
    ref = spark.createDataFrame(
        [("c1", 0, "sent 100 bytes at 2024-01-02 10:11:12")],
        "conv_id string, turn_idx int, text string",
    )
    fact = spark.createDataFrame(
        [("c1", 0, "Sent 999 bytes at 2023-05-06 07:08:09")],
        "conv_id string, turn_idx int, text string",
    )
    res = ValidationRunner([TextEquals("te", canonicalize=True)], reference=ref).run(fact)
    assert res.violations.count() == 0
    strict = ValidationRunner([TextEquals("te", canonicalize=False)], reference=ref).run(fact)
    assert strict.violations.count() == 1


# --------------------------------------------------------- raw-hash gate


def _py_canon(text: str) -> str:
    """``canonicalize`` with Python's ``re`` (which, unlike DuckDB's RE2,
    has look-behind). Inputs are ASCII, where Java's and Python's ``\\s``,
    ``\\d`` and ``\\b`` agree; Spark's ``trim`` strips spaces only."""
    c = text.lower()
    for pat, repl in _CANON_PATTERNS:
        c = re.sub(pat, repl, c, flags=re.ASCII)
    return c.strip(" ")


_token = st.one_of(
    st.text(string.ascii_letters, min_size=1, max_size=6),  # mixed-case words
    st.sampled_from([" ", "  ", "\t", " \t ", ":", "-", "+", ".", ",", "_", "="]),
    st.integers(-10**6, 10**6).map(str),  # numbers
    st.tuples(st.integers(0, 999), st.integers(0, 99)).map("{0[0]}.{0[1]}".format),
    st.tuples(*[st.integers(0, 300)] * 4, st.sampled_from(["", ":50010"])).map(
        lambda q: ".".join(map(str, q[:4])) + q[4]  # IPs, some out of range
    ),
    st.tuples(
        st.integers(1990, 2030), st.integers(1, 12), st.integers(1, 28),
        st.sampled_from([" ", "T", "_", "t"]), st.integers(0, 23), st.integers(0, 59),
        st.sampled_from(["", ".5", ".125"]),
    ).map(lambda t: f"{t[0]:04d}-{t[1]:02d}-{t[2]:02d}{t[3]}{t[4]:02d}:{t[5]:02d}:07{t[6]}"),
    st.tuples(st.sampled_from(["", "0x", "0X"]), st.integers(0, 2**48)).map(
        lambda t: f"{t[0]}{t[1]:x}"  # hex ids, short and long
    ),
)
_text = st.lists(_token, max_size=10).map("".join)
# how the reference row relates to the fact row
_KINDS = ("equal", "upper", "swapcase", "pad", "renumber", "different", "null", "missing")


def _reference_text(kind: str, text: str | None) -> str | None:
    if kind == "null" or text is None:
        return None
    return {
        "equal": text,
        "upper": text.upper(),  # canonical-equal, raw-different
        "swapcase": text.swapcase(),
        "pad": f" \t{text}  ",
        "renumber": re.sub(r"\d+", lambda m: str(int(m.group()) + 7), text),
        "different": text + " extra",
    }[kind]


_rows = st.lists(
    st.tuples(st.none() | _text, st.sampled_from(_KINDS)), min_size=1, max_size=24
)


@given(_rows, st.booleans(), st.booleans())
@example(
    [("Sent 100 bytes", "upper"), ("blk_0xAB12 at 10.0.0.1:50010", "renumber"),
     ("2024-01-02 10:11:12 ok", "pad"), ("x1y2", "different"), (None, "equal"),
     ("ERROR\tid=deadbeef01", "swapcase"), ("a b", "null"), ("c", "missing")],
    True,
    True,
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_gated_flags_match_python_canonicalize(spark, rows, canon, prehashed):
    """The runner's TextEquals violation rows equal an independent
    replica: canonical (or, with ``canonicalize=False``, raw) inequality
    of two non-null texts, over texts whose reference is equal, equal only
    after canonicalization, or different, with nulls and missing rows."""
    fact = [(f"c{i % 3}", i, text) for i, (text, _) in enumerate(rows)]
    ref = [
        (f"c{i % 3}", i, _reference_text(kind, text))
        for i, (text, kind) in enumerate(rows)
        if kind != "missing"
    ]
    schema = "conv_id string, turn_idx int, text string"
    ref_df = spark.createDataFrame(ref, schema)
    chk = TextEquals("te", canonicalize=canon)
    res = ValidationRunner(
        [chk],
        n_buckets=4,
        reference=reference_hashes(ref_df, chk) if prehashed else ref_df,
    ).run(spark.createDataFrame(fact, schema))
    got = {(r["conv_id"], r["turn_idx"]) for r in res.violations.collect()}
    res.unpersist()

    norm = _py_canon if canon else (lambda t: t)
    ref_text = {(c, i): t for c, i, t in ref}
    want = {
        (c, i)
        for c, i, t in fact
        if t is not None
        and ref_text.get((c, i)) is not None
        and norm(t) != norm(ref_text[(c, i)])
    }
    assert got == want
