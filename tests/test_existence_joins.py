"""RefIntegrity and TextEquals as existence joins: exact violation rows
against an independent pandas oracle.

A referential check flags a row iff no dimension row has its (non-null)
fk; a text-equality check flags a row iff SOME reference row with its
keys has a non-null text whose canonical form differs. The fixture holds
the inputs where a join plan could go wrong: duplicate and NULL dim pks,
NULL fks under both ``ignore_null`` settings, a multi-column fk, a
reference with several rows per key, and dims and a reference whose
columns share the fact's names (an outer reference resolved against the
inner side would silently un-correlate the subquery)."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from hdfs_anomaly_detection_spark.constraints import (
    RefIntegrity,
    TextEquals,
    ValidationRunner,
)
from hdfs_anomaly_detection_spark.constraints.runner import reference_hashes

FACT_SCHEMA = "conv_id string, turn_idx int, tool string, text string"
FACT = [
    ("c1", 0, "t1", "hello world"),
    ("c1", 1, "t1", "hello world"),
    ("c1", 2, "t2", "Hello  World"),
    ("c1", 3, None, "good bye"),
    ("c1", 4, "ghost", None),
    ("c2", 0, "t2", "alpha"),
    ("c2", 1, "t9", "beta"),
    ("c2", 2, "t1", "gamma"),
    ("c3", 0, "t1", "delta"),  # c3 is absent from the conversations dim
    ("c3", 1, None, "epsilon"),
    ("c4", 0, "t2", "zeta"),  # c4's only dim row has a NULL tool
    (None, 0, "t1", "eta"),
    (None, 1, "ghost", None),
]
# the conversations dim shares every fact column name; c1 twice, a NULL pk
CONVERSATIONS = pd.DataFrame(
    [("c1", 9, "tx", "other"), ("c1", 8, "ty", "x"), ("c2", 0, "t1", "y"),
     ("c4", 0, None, "z"), (None, 0, "t1", "w")],
    columns=["conv_id", "turn_idx", "tool", "text"],
)
# t1 twice, a NULL pk; its conv_id column matches no fact row
TOOLS = pd.DataFrame(
    [("t1", "zz"), ("t1", "zz"), ("t2", None), (None, "c3")], columns=["tool", "conv_id"]
)
# the (conv_id, tool) pairs a multi-column fk must find
PAIRS = pd.DataFrame(
    [("c1", "t1"), ("c1", "t2"), ("c2", "t2"), ("c2", "t2"), ("c4", None), (None, "t1")],
    columns=["conv_id", "tool"],
)
REFERENCE = [
    ("c1", 0, "hello world"),
    ("c1", 0, "hello there"),  # one equal, one differing row: flagged
    ("c1", 1, "HELLO WORLD"),
    ("c1", 1, "hello world"),  # both canonically equal: canonical-clean
    ("c1", 2, None),
    ("c1", 2, "hello world"),  # a null row never differs
    ("c1", 3, None),  # only a null row: never flagged
    ("c1", 4, "anything"),  # fact text is null: never flagged
    ("c2", 0, "Alpha"),
    ("c2", 1, "beta"),
    ("c2", 1, "beta"),
    ("c2", 2, "gamma"),
    ("c2", 2, "GAMMA!"),
    ("c3", 0, "delta"),
    (None, 0, "eta"),  # a NULL key never matches
    ("c9", 0, "unmatched"),
]


def _canon(text: str) -> str:
    # ``canonicalize`` on texts without digits, hex runs, IPs or dates:
    # lower-case, collapse whitespace, trim spaces
    return re.sub(r"\s+", " ", text.lower()).strip(" ")


def _checks(broadcast: bool) -> list:
    return [
        RefIntegrity("ri_conv", fk=("conv_id",), dim="conversations", pk=("conv_id",),
                     broadcast=broadcast, ignore_null=True),
        RefIntegrity("ri_conv_strict", fk=("conv_id",), dim="conversations", pk=("conv_id",),
                     broadcast=broadcast, ignore_null=False),
        RefIntegrity("ri_tool", fk=("tool",), dim="tools", broadcast=broadcast, ignore_null=True),
        RefIntegrity("ri_tool_strict", fk=("tool",), dim="tools", broadcast=broadcast,
                     ignore_null=False),
        RefIntegrity("ri_pair", fk=("conv_id", "tool"), dim="pairs", broadcast=broadcast,
                     ignore_null=True),
        TextEquals("te", canonicalize=True),
        TextEquals("te_raw", canonicalize=False),
    ]


def _oracle(checks) -> set[tuple]:
    fact = pd.DataFrame(FACT, columns=["conv_id", "turn_idx", "tool", "text"])
    dims = {"conversations": CONVERSATIONS, "tools": TOOLS, "pairs": PAIRS}
    ref = pd.DataFrame(REFERENCE, columns=["conv_id", "turn_idx", "text"])
    out = set()
    for chk in checks:
        for r in fact.itertuples(index=False):
            row = r._asdict()
            if isinstance(chk, RefIntegrity):
                fk = tuple(row[c] for c in chk.fk)
                dim = dims[chk.dim][list(chk.pk or chk.fk)].dropna()
                found = fk in set(dim.itertuples(index=False, name=None))
                null = any(pd.isna(v) for v in fk)
                bad = not found and not (chk.ignore_null and null)
            else:
                norm = _canon if chk.canonicalize else (lambda t: t)
                same_key = ref[(ref.conv_id == row["conv_id"]) & (ref.turn_idx == row["turn_idx"])]
                bad = row["text"] is not None and any(
                    t is not None and norm(t) != norm(row["text"]) for t in same_key.text
                )
            if bad:
                out.add((chk.name, row["conv_id"], row["turn_idx"]))
    return out


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "smj"])
@pytest.mark.parametrize("prehashed", [True, False], ids=["prehashed", "raw_text"])
def test_existence_rows_match_pandas_oracle(spark, broadcast, prehashed):
    checks = _checks(broadcast)
    ref = spark.createDataFrame(REFERENCE, "conv_id string, turn_idx int, text string")
    if prehashed:
        ref = reference_hashes(ref, TextEquals("te"))
        # canonicalize=False compares raw hashes only: the same table serves
        assert {"raw_hash", "canon_hash"} <= set(ref.columns)
    runner = ValidationRunner(
        checks,
        n_buckets=4,
        dims={name: spark.createDataFrame(pdf) for name, pdf in
              (("conversations", CONVERSATIONS), ("tools", TOOLS), ("pairs", PAIRS))},
        reference=ref,
    )
    res = runner.run(spark.createDataFrame(FACT, FACT_SCHEMA))
    try:
        rows = [(r["check_id"], r["conv_id"], r["turn_idx"]) for r in res.violations.collect()]
    finally:
        res.unpersist()
    assert len(rows) == len(set(rows))  # one row per (row, failed check)
    want = _oracle(checks)
    assert set(rows) == want
    # every rule above is exercised
    assert {c for c, _, _ in want} == {c.name for c in checks}
    assert ("te", "c1", 0) in want and ("te", "c1", 1) not in want
    assert ("te_raw", "c1", 1) in want and ("te", "c2", 2) in want
