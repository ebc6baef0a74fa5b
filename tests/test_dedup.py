"""Dedup operators vs independent python oracles on the documents table."""

from __future__ import annotations

import hashlib
import itertools

import pytest
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.operators import (
    dedup_keep_first,
    exact_dup_groups,
    minhash_lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet")
    # inject exact + near duplicates deterministically so dedup has targets
    dup_exact = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    dup_near = base.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail")).alias("text"),
        "lang", "source", "n_chars",
    )
    df = base.unionByName(dup_exact).unionByName(dup_near)
    return df, df.toPandas()


def test_exact_dup_groups(docs):
    df, pdf = docs
    got = exact_dup_groups(df).toPandas()
    counts = pdf.dropna(subset=["text"]).groupby(
        pdf["text"].dropna().map(lambda t: hashlib.md5(t.encode()).hexdigest())
    ).size()
    expected = counts[counts > 1]
    assert set(got["text_hash"]) == set(expected.index)
    assert got.set_index("text_hash")["n_docs"].to_dict() == expected.to_dict()


def test_dedup_keep_first(docs):
    df, pdf = docs
    got = dedup_keep_first(df).toPandas()
    expected = (
        pdf.dropna(subset=["text"])
        .sort_values("doc_id")
        .drop_duplicates(subset=["text"], keep="first")
    )
    assert sorted(got["doc_id"]) == sorted(expected["doc_id"])


def _py_shingles(text: str, k: int = 3) -> set[str]:
    toks = text.lower().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    df, pdf = docs
    pairs = minhash_lsh_candidate_pairs(df, verify_threshold=0.5).toPandas()
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    # every injected exact duplicate pair must be found (Jaccard = 1)
    for did in pdf.loc[(pdf["doc_id"] >= 100000) & (pdf["doc_id"] < 200000), "doc_id"]:
        assert (did - 100000, did) in got
    # est_jaccard for true (original, exact-copy) pairs is exactly 1.0
    exact_pairs = pairs[
        (pairs["id_a"] < 100000)
        & (pairs["id_a"] % 7 == 0)
        & (pairs["id_b"] == pairs["id_a"] + 100000)
    ]
    assert len(exact_pairs) > 0
    assert (exact_pairs["est_jaccard"] == 1.0).all()


def test_ngram_jaccard_pairs_match_python(docs):
    df, pdf = docs
    got = ngram_jaccard_pairs(df, block_cols=("source",), threshold=0.6).toPandas()
    got_pairs = {(a, b): j for a, b, j in zip(got["id_a"], got["id_b"], got["jaccard"])}
    # python oracle over the same blocking
    expected = {}
    for _, g in pdf.dropna(subset=["text"]).groupby("source"):
        rows = list(zip(g["doc_id"], g["text"]))
        for (ia, ta), (ib, tb) in itertools.combinations(sorted(rows), 2):
            sa, sb = _py_shingles(ta), _py_shingles(tb)
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.6:
                expected[(ia, ib)] = j
    assert set(got_pairs) == set(expected)
    for k in expected:
        assert got_pairs[k] == pytest.approx(expected[k])


def test_minhash_band_exchange_drops_sig(docs):
    """r1 VERDICT fix: the banded candidate join must shuffle only
    (id, band, bh) — the 64-long signature array stays out of the
    exploded 16x exchange and is re-joined once per side afterwards."""
    df, _ = docs
    pairs = minhash_lsh_candidate_pairs(df, verify_threshold=0.5)
    fmt = df.sparkSession._jvm.PythonSQLUtils.explainString(
        pairs._jdf.queryExecution(), "formatted"
    )
    # formatted explain: each Exchange block lists its Input columns
    import re

    blocks = re.split(r"\(\d+\) Exchange", fmt)
    for blk in blocks[1:]:
        head = blk.split("\n\n")[0]
        if "hashpartitioning(band" in head:
            inp = next(l for l in head.splitlines() if l.startswith("Input"))
            assert "sig" not in inp, inp


def test_lsh_verified_pairs_match_truth(docs):
    """LSH candidates verified by true shingle Jaccard == exhaustive
    all-pairs truth at threshold 0.9 (miss prob ~4e-8 per pair)."""
    df, pdf = docs
    cands = minhash_lsh_candidate_pairs(df, verify_threshold=None)
    got = ngram_jaccard_pairs(df, threshold=0.9, candidates=cands).toPandas()
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    expected = set()
    rows = list(zip(pdf.dropna(subset=["text"])["doc_id"], pdf.dropna(subset=["text"])["text"]))
    for (ia, ta), (ib, tb) in itertools.combinations(sorted(rows), 2):
        sa, sb = _py_shingles(ta), _py_shingles(tb)
        if len(sa & sb) / len(sa | sb) >= 0.9:
            expected.add((ia, ib))
    assert got_pairs == expected and len(expected) > 0


def test_simhash_exact_dups_have_zero_hamming(docs):
    df, pdf = docs
    pairs = simhash_candidate_pairs(df, max_hamming=3).toPandas()
    got = {(a, b): h for a, b, h in zip(pairs["id_a"], pairs["id_b"], pairs["hamming"])}
    for did in pdf[(pdf["doc_id"] >= 100000) & (pdf["doc_id"] < 200000)]["doc_id"]:
        key = (did - 100000, did)
        assert key in got and got[key] == 0
