"""Validation runner: plans all checks into as few passes as possible and
emits (violations DF, per-partition verdicts DF).

Plan shape (scale rationale):

* Partition identity is a DATA attribute — ``part_id =
  pmod(xxhash64(conv_id), n_buckets)`` — never a physical split, so
  verdicts are stable across cluster sizes / file layouts (SURVEY §7.4
  risk 1). All rows of a conversation land in one part_id.
* All row-level predicates + referential joins + window flags are folded
  into ONE flagged scan; violation rows come from exploding a compacted
  struct array (rows with no failures are dropped by ``explode`` for
  free). No per-check scans.
* Every per-check ``Column`` — the narrow-select predicates and details,
  the part_id expression, the join conditions, the text gate, the
  window flags, the explode structs and the verdict aggregates — is
  built ONCE, in ``ValidationRunner.__init__``, into a frozen
  ``Compiled`` value; ``run`` only binds it to an input, so a runner
  needs an active Spark session when it is built. Spark 4 converts a
  ``Column`` into a Catalyst expression at each use, so the same objects
  serve every plan and thread. Building them costs thousands of Py4J
  round trips, which ``run`` used to repeat on every call.
* The plan for one input is a value (``FlagPlan``): the narrow flagged
  frame, its flag columns, whether it is clustered and which columns
  carry drift metrics. ``run`` derives every output from that value and
  keeps no per-call state on the runner, so one runner can serve
  concurrent callers (e.g. ``foreachBatch`` threads).
* When a check needs conversation locality (ordering windows, reference
  equality, referential joins) the narrow frame is hash-repartitioned
  once on conv_id; the reference-equality SMJ, dim joins, ordering and
  uniqueness windows AND drift-metric histograms all ride that single
  exchange (subset co-partitioning).
* Text equality is gated by a raw-text hash: the fact side carries
  ``xxhash64(text)`` and, when canonicalizing, the text itself through
  that one exchange. After the (conv_id, turn_idx) SMJ only rows whose
  raw hash differs from the reference's run the five-pass
  ``canonicalize`` regex chain; the text is dropped in the projection
  that computes the flags, so the persisted frame holds no text. A
  raw-text reference is gated the same way: it carries its raw hash and
  text through its own hash(conv_id) exchange and is canonicalized only
  on those rows too. Measured on the perfbench ``full_suite`` (6k
  conversations, 4-CPU host, traced op): scan-stage run time 1.87 →
  0.25 s and executor CPU 2.69 → 1.09 s, for +68% shuffle bytes
  (2.72 → 4.57 MB).
* One caching policy: every run persists the narrow frame
  (MEMORY_AND_DISK, ~50 B/row) and nothing else. Row violations,
  verdicts and drift histograms all read it, so the fact table is
  scanned once per run.
* Every count check is a flag column. On a clustered frame a Unique key
  that contains conv_id is counted by a window over the conversation
  ordered by the rest of the key: ``count(*)`` over the peer rows (the
  key's duplicates) and ``row_number() = rank()``, which marks the first
  of them, so a duplicate key gives one violation row. The window reuses
  the hash(conv_id) exchange and, for the default (conv_id, turn_idx)
  key, the sort of the reference SMJ and ordering window: no extra
  shuffle, no extra sort. Without clustering, or for a key without
  conv_id, uniqueness runs as a salted two-phase aggregation (partial
  counts per cached split → final merge) over the cached frame, so a
  hot key never concentrates on one reducer.
* Verdicts = ONE ``groupBy(part_id)`` over the persisted frame:
  ``count(*)`` as n_rows, ``count_if`` of every flag and the max
  timestamp of every Freshness check, unpivoted (an ``Expand``: no
  join, no generator) into one row per (part_id, check). Only salted
  Unique counts join in, on part_id. Nothing driver-side is proportional
  to row count. The small driver-side tables (schema-conformance rows,
  drift verdict rows, the empty outputs of a suite without flags) are
  Arrow-backed ``LocalRelation``s (``session.local_frame``), never
  pickled Python lists: reading them starts no Python worker, and
  Catalyst folds them — a drift-only run's verdicts plan is a single
  ``LocalRelation`` and collects without a Spark job.

The per-row verdict record mirrors the reference's ``AnomalyResult``
(``anomaly-detection-service/anomaly_detection_service.py:58-68``); the
per-partition pass/fail mirrors its OK/WARNING/CRITICAL CASE thresholds
(``grafana/grafana_test_queries.sql:34-52``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from functools import reduce
from typing import NamedTuple

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.constraints import dsl
from hdfs_anomaly_detection_spark.constraints.dsl import (
    Check,
    Drift,
    Freshness,
    MonotonicOrder,
    RefIntegrity,
    SchemaConformance,
    TextEquals,
    Unique,
)
from hdfs_anomaly_detection_spark.functions.text import canonicalize
from hdfs_anomaly_detection_spark.session import local_frame

VIOLATIONS_SCHEMA = (
    "part_id int, check_id string, conv_id string, turn_idx int, column string, detail string"
)
VERDICTS_SCHEMA = (
    "part_id int, check_id string, n_rows bigint, n_violations bigint, "
    "statistic double, passed boolean"
)
# one verdict row as a struct with every field nullable: the unpivot
# takes its value type from the first struct, so without this cast a
# Freshness check's null n_rows would read back as 0
_VERDICT = (
    "struct<check_id:string,n_rows:bigint,n_violations:bigint,"
    "statistic:double,passed:boolean>"
)


def part_id_expr(conv_col: str = "conv_id", n_buckets: int = 32) -> F.Column:
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_buckets)).cast("int")


def reference_hashes(ref_df: DataFrame, chk) -> DataFrame:
    """Precompute the reference side of a TextEquals check as
    (keys..., canon_hash, raw_hash): the xxhash64 of the canonical and
    of the raw text (both null for a null text). The reference corpus is
    static across runs — hashing it once and persisting the result keeps
    the reference text out of every validation run's shuffle and regex
    work (pass the result as ``ValidationRunner(reference=...)``).
    ``raw_hash`` lets the runner canonicalize only the fact rows whose
    raw text differs."""
    src = F.col(chk.column)
    h = canonicalize(src) if chk.canonicalize else src
    return ref_df.select(
        *chk.keys,
        F.when(src.isNotNull(), F.xxhash64(h)).alias("canon_hash"),
        F.when(src.isNotNull(), F.xxhash64(src)).alias("raw_hash"),
    )


def _all(cols: list[Column]) -> Column:
    return reduce(lambda a, b: a & b, cols)


def _verdict(check_id: str, n_rows: Column, n: Column, stat: Column, passed: Column) -> Column:
    # a struct cast maps fields by position and takes the names of _VERDICT
    return F.struct(F.lit(check_id), n_rows, n, stat, passed).cast(_VERDICT)


class FlagPlan(NamedTuple):
    """The validation plan for one input, as an immutable value."""

    frame: DataFrame  # the narrow flagged frame
    flags: tuple[tuple[Check, str], ...]  # (check, flag column)
    clustered: bool  # frame is hash-partitioned on conv_id
    drift_cols: dict[str, str]  # drift check name → metric column


class _Item(NamedTuple):
    """One item of the narrow select."""

    expr: Column  # the select item, aliased
    need: str | None  # the fact column it needs, None: always selected
    keep: Column | None  # the column after the joins; None: dropped there


class _RefJoin(NamedTuple):
    """The reference side of a TextEquals check."""

    items: tuple[Column, ...]  # select over the reference
    conv: str | None  # its conv_id column, to co-partition on
    keys: tuple[str, ...]  # dedup keys
    cond: Column


class _DimJoin(NamedTuple):
    """The dimension side of a RefIntegrity check."""

    dim: str
    items: tuple[Column, ...]  # select over the dimension
    broadcast: bool
    conv: bool  # shuffle the dimension once on conv_id
    pk0: str
    cond: Column


class _Dupes(NamedTuple):
    """A Unique check counted by aggregation instead of a window."""

    check: Unique
    items: tuple[Column, ...]  # VIOLATIONS_SCHEMA select over the key totals
    count_col: str  # its per-partition count, joined into the verdicts


class Compiled(NamedTuple):
    """Every per-check ``Column`` of a runner, built once by ``__init__``."""

    pid: Column
    narrow: tuple[_Item, ...]
    drift: tuple[tuple[str, str | None, str], ...]  # (check, need, metric column)
    clustered: bool
    refs: tuple[_RefJoin, ...]
    dims: tuple[_DimJoin, ...]
    post: tuple[Column, ...]  # flags computed after the joins, windows included
    flags: tuple[tuple[Check, str], ...]
    explode: tuple[Column, ...]  # the select that explodes the failed checks
    violation: tuple[tuple[Column, ...], tuple[Column, ...]]  # around extra_cols
    dupes: tuple[_Dupes, ...]
    aggs: tuple[Column, ...]  # the one verdict aggregate
    verdicts: tuple[Column, ...]  # a _VERDICT struct per count check
    fresh: tuple[tuple[Freshness, str], ...]  # (check, max-ts column)


@dataclass(frozen=True)
class ValidationResult:
    violations: DataFrame  # VIOLATIONS_SCHEMA
    verdicts: DataFrame  # VERDICTS_SCHEMA
    # the persisted narrow flagged frame; callers should ``unpersist()``
    # once both outputs are materialized so long-lived sessions don't
    # accumulate cache (idempotent)
    cached: DataFrame

    def unpersist(self) -> None:
        self.cached.unpersist()


class ValidationRunner:
    def __init__(
        self,
        checks: list[Check],
        n_buckets: int = 32,
        dims: dict[str, DataFrame] | None = None,
        reference: DataFrame | None = None,
        baselines: dict[str, pd.DataFrame] | None = None,
        part_col: str | None = None,
        carry_cols: tuple[str, ...] = (),
        pre_clustered: bool = False,
    ) -> None:
        """``part_col``: use an existing int column as the partition id
        (e.g. an Iceberg partition column) instead of the default
        ``pmod(xxhash64(conv_id), n_buckets)``. Must be functionally
        dependent on conv_id so verdicts stay conversation-aligned.

        ``pre_clustered``: the input table is ALREADY hash-distributed
        by conv_id — a bucketed table (``sources/bucketed``,
        read via ``spark.table`` so the bucket spec survives) or an
        Iceberg ``bucket(N, conv_id)`` layout. The runner then skips
        its own repartition and the scan's bucket partitioning carries
        the whole plan: at 10^12 turns this moves the engine's one
        remaining full-frame exchange (~50 B/row × rows per run) into
        storage, amortized across every subsequent validation of the
        same table. Safe degradation: if the input is NOT actually
        bucketed, EnsureRequirements simply re-inserts the exchanges —
        same results, the old cost.

        Every check's ``Column`` expressions are built here, once, so a
        runner needs an active Spark session. Check names must be
        unique: verdict rows are keyed by check_id."""
        names = [c.name for c in checks]
        repeated = sorted({n for n in names if names.count(n) > 1})
        if repeated:
            raise ValueError(f"duplicate check names {repeated}: verdict rows are keyed by check_id")
        self.checks = checks
        self.n_buckets = n_buckets
        self.dims = dims or {}
        self.reference = reference
        self.baselines = baselines or {}
        self.part_col = part_col
        # payload columns a caller needs carried through the narrow frame
        # (e.g. the streaming watermark needs ts); every extra column
        # multiplies across all downstream exchanges, so opt-in only
        self.carry_cols = tuple(carry_cols)
        self.pre_clustered = pre_clustered
        self._compiled = self._compile()

    def pid_expr(self) -> F.Column:
        return self._compiled.pid

    # --------------------------------------------------------------- compile

    def _compile(self) -> Compiled:
        """Build every per-check expression of the plan ``_flagged`` and
        ``run`` bind (see ``_flagged`` for the plan itself)."""
        # each Column operation is several Py4J round trips: build each once
        row_checks = [(c, e) for c in self.checks if (e := c.violation_expr()) is not None]
        ri_checks = dsl.of_type(self.checks, RefIntegrity)
        mono_checks = dsl.of_type(self.checks, MonotonicOrder)
        te_checks = dsl.of_type(self.checks, TextEquals) if self.reference is not None else []
        drift_checks = dsl.of_type(self.checks, Drift)
        fresh_checks = dsl.of_type(self.checks, Freshness)
        unique_checks = dsl.of_type(self.checks, Unique)
        clustered = bool(mono_checks or te_checks or ri_checks)

        extra: set[str] = set()
        for chk in mono_checks:
            extra |= set(chk.partition_cols) | set(chk.tiebreak) | {chk.order_col}
        for chk in ri_checks:
            extra |= set(chk.fk)
        for chk in te_checks:
            extra |= set(chk.keys)
        for chk in fresh_checks:
            extra.add(chk.ts_col)
        for chk in unique_checks:
            extra |= set(chk.columns)
        # NOTE: ts (or any other payload column) enters the narrow frame
        # only if a check references it or the caller asked via carry_cols
        # — every surplus 8B/row column multiplies across all downstream
        # exchanges
        extra |= set(self.carry_cols)
        extra -= {"conv_id", "turn_idx"}

        def item(expr: Column, name: str, need: str | None = None, keep: bool = True) -> _Item:
            return _Item(expr.alias(name), need, F.col(name) if keep else None)

        def plain(name: str, need: str | None = None) -> _Item:
            c = F.col(name)
            return _Item(c, need, c)

        pid = (
            F.col(self.part_col).cast("int")
            if self.part_col
            else part_id_expr(n_buckets=self.n_buckets)
        )
        narrow = [item(pid, "part_id"), plain("conv_id"), plain("turn_idx")]
        narrow += [plain(c, need=c) for c in sorted(extra)]
        flags: list[tuple[Check, str]] = []
        false = F.lit(False)
        for i, (chk, expr) in enumerate(row_checks):
            col = f"__v{i}"
            pred = F.coalesce(expr, false)
            narrow += [item(pred, col), item(F.when(pred, chk.detail_expr()), f"{col}_d")]
            flags.append((chk, col))
        for t, chk in enumerate(te_checks):
            # the raw-text hash always; the text itself only when a row
            # whose raw hash differs must be canonicalized after the join
            src = F.col(chk.column)
            narrow.append(item(F.when(src.isNotNull(), F.xxhash64(src)), f"__te{t}_h", keep=False))
            if chk.canonicalize:
                narrow.append(item(src, f"__te{t}_x", keep=False))
        # drift metrics ride the narrow frame as one pre-computed double
        # per check (e.g. length(text) — 8 B/row instead of a second full
        # scan of the wide fact table later); 'turn_count' needs no column
        # at all (it aggregates the keys already present)
        drift: list[tuple[str, str | None, str]] = []
        for g, chk in enumerate(drift_checks):
            if chk.metric == "turn_count":
                drift.append((chk.name, None, "turn_count"))
                continue
            need = "text" if chk.metric == "text_length" else chk.metric
            metric = F.length(F.col("text")) if chk.metric == "text_length" else F.col(chk.metric)
            narrow.append(item(metric.cast("double"), f"__dm{g}", need))
            drift.append((chk.name, need, f"__dm{g}"))

        refs, post = self._compile_text(te_checks, flags)
        dims: list[_DimJoin] = []
        for j, chk in enumerate(ri_checks):
            col = f"__r{j}"
            pk_cols = [f"__pk{j}_{k}" for k in range(len(chk.pk or chk.fk))]
            dims.append(
                _DimJoin(
                    chk.dim,
                    tuple(F.col(p).alias(a) for p, a in zip(chk.pk or chk.fk, pk_cols)),
                    chk.broadcast,
                    clustered and chk.fk == ("conv_id",),
                    pk_cols[0],
                    # plain equality keeps hash-partitioning reusable
                    # (eqNullSafe keys get coalesce-wrapped ⇒ re-exchange)
                    _all([F.col(fk) == F.col(pk) for fk, pk in zip(chk.fk, pk_cols)]),
                )
            )
            dangling = F.col(pk_cols[0]).isNull()
            if chk.ignore_null:
                dangling = _all([F.col(fk).isNotNull() for fk in chk.fk] + [dangling])
            post.append(dangling.alias(col))
            flags.append((chk, col))
        for m, chk in enumerate(mono_checks):
            col = f"__w{m}"
            w = Window.partitionBy(*chk.partition_cols).orderBy(chk.order_col, *chk.tiebreak)
            cur = F.col(chk.order_col)
            prev = F.lag(chk.order_col).over(w)
            step_bad = cur != prev + 1 if chk.contiguous else cur <= prev
            first_bad = (cur != F.lit(chk.start)) if chk.start is not None else F.lit(False)
            post += [
                F.when(prev.isNull(), first_bad).otherwise(step_bad).alias(col),
                prev.alias(f"{col}_prev"),
            ]
            flags.append((chk, col))
        # after the ordering windows, so their (conv_id, turn_idx, ...) sort
        # also serves the Unique window's (conv_id, turn_idx) requirement
        dupes: list[_Dupes] = []
        for k, chk in enumerate(unique_checks):
            key = tuple(chk.columns)
            if not (clustered and "conv_id" in key):
                dupes.append(self._compile_dupes(chk, f"__s{k}"))
                continue
            col = f"__u{k}"
            rest = [c for c in key if c != "conv_id"]
            w = Window.partitionBy("conv_id").orderBy(*(rest or key))
            n = F.count(F.lit(1)).over(w.rangeBetween(Window.currentRow, Window.currentRow))
            post += [
                n.alias(f"{col}_n"),
                ((n > 1) & (F.row_number().over(w) == F.rank().over(w))).alias(col),
            ]
            flags.append((chk, col))

        turn, no_turn = F.col("turn_idx"), F.lit(None).cast("int").alias("turn_idx")
        structs = [
            F.when(
                F.col(col),
                F.struct(
                    F.lit(chk.name).alias("check_id"),
                    no_turn if isinstance(chk, Unique) and "turn_idx" not in chk.columns else turn,
                    F.lit(self._column_of(chk)).alias("column"),
                    self._detail(chk, col).alias("detail"),
                ),
            )
            for chk, col in flags
        ]
        explode = (
            (F.col("part_id"), F.col("conv_id"), F.explode(F.array_compact(F.array(*structs))).alias("v"))
            if structs
            else ()
        )
        violation = (
            (
                F.col("part_id"),
                F.col("v.check_id").alias("check_id"),
                F.col("conv_id"),
                F.col("v.turn_idx").alias("turn_idx"),
            ),
            (F.col("v.column").alias("column"), F.col("v.detail").alias("detail")),
        )

        flag_of = {chk.name: col for chk, col in flags}
        counted_of = {d.check.name: d.count_col for d in dupes}
        n_rows, null, zero = F.col("n_rows"), F.lit(None), F.lit(0)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        verdicts = []
        count_checks = [
            c for c in self.checks if not isinstance(c, (Drift, SchemaConformance, Freshness))
        ]
        for i, chk in enumerate(count_checks):
            if chk.name in flag_of:
                aggs.append(F.count_if(F.col(flag_of[chk.name])).alias(f"__c{i}"))
                n = F.col(f"__c{i}")
            elif chk.name in counted_of:
                n = F.coalesce(F.col(counted_of[chk.name]), zero)
            else:  # nothing to count, e.g. TextEquals without a reference
                n = zero
            passed = n <= float(chk.max_violation_rate) * n_rows
            verdicts.append(_verdict(chk.name, n_rows, n, null, passed))
        fresh = []
        for k, chk in enumerate(fresh_checks):
            aggs.append(F.unix_timestamp(F.max(F.col(chk.ts_col))).alias(f"__f{k}"))
            fresh.append((chk, f"__f{k}"))

        return Compiled(
            pid=pid,
            narrow=tuple(narrow),
            drift=tuple(drift),
            clustered=clustered,
            refs=tuple(refs),
            dims=tuple(dims),
            post=tuple(post),
            flags=tuple(flags),
            explode=explode,
            violation=violation,
            dupes=tuple(dupes),
            aggs=tuple(aggs),
            verdicts=tuple(verdicts),
            fresh=tuple(fresh),
        )

    def _compile_text(
        self, te_checks: list[TextEquals], flags: list[tuple[Check, str]]
    ) -> tuple[list[_RefJoin], list[Column]]:
        """The reference joins and raw-hash gates of the TextEquals checks.

        Gate: canonicalize is deterministic, so equal raw text has an
        equal canonical hash. Only rows whose raw hash differs from the
        reference's run the regex chain, above the SMJ. A pre-hashed
        reference (``reference_hashes``) is compared by canonical hash —
        a collision masking a true mismatch has probability ~2^-64; a
        raw-text reference carries its text through its own exchange and
        both texts are canonicalized on those rows only."""
        ref_cols = set(self.reference.columns) if te_checks else set()
        refs: list[_RefJoin] = []
        gates: list[Column] = []
        for t, chk in enumerate(te_checks):
            src = F.col(chk.column)
            keys = tuple(f"__ref{t}_{k}" for k in chk.keys)
            items = [F.col(k).alias(a) for k, a in zip(chk.keys, keys)]
            raw_text = chk.column in ref_cols
            if raw_text:
                items.append(F.when(src.isNotNull(), F.xxhash64(src)).alias(f"__ref{t}_raw"))
                if chk.canonicalize:
                    items.append(src.alias(f"__ref{t}_x"))
            elif "raw_hash" in ref_cols:
                items.append(F.col("raw_hash").alias(f"__ref{t}_raw"))
                if chk.canonicalize:
                    items.append(F.col("canon_hash").alias(f"__ref{t}_canon"))
            else:
                raise ValueError(
                    f"TextEquals {chk.name!r}: the reference has neither a "
                    f"{chk.column!r} column nor a raw_hash column; rebuild a "
                    "pre-hashed reference with reference_hashes()"
                )
            refs.append(
                _RefJoin(
                    tuple(items),
                    # co-partition the reference on the same key so BOTH
                    # its dedup and the equality join stay exchange-free
                    f"__ref{t}_conv_id" if "conv_id" in chk.keys else None,
                    keys,
                    # plain equality, not eqNullSafe: NULL keys never match
                    # a reference row either way (left join ⇒ ref hashes
                    # null ⇒ no flag), and <=> keys get coalesce-wrapped by
                    # the planner, which breaks hash-partitioning reuse and
                    # forces the SMJ + downstream window to re-exchange
                    _all([F.col(k) == F.col(a) for k, a in zip(chk.keys, keys)]),
                )
            )
            raw, ref_raw = F.col(f"__te{t}_h"), F.col(f"__ref{t}_raw")
            differs = ref_raw.isNotNull() & raw.isNotNull() & (raw != ref_raw)
            if chk.canonicalize:
                canon = canonicalize(F.col(f"__te{t}_x"))
                if raw_text:
                    unequal = canon != canonicalize(F.col(f"__ref{t}_x"))
                else:
                    unequal = F.xxhash64(canon) != F.col(f"__ref{t}_canon")
                differs = F.when(differs, unequal).otherwise(False)
            gates.append(differs.alias(f"__t{t}"))
            flags.append((chk, f"__t{t}"))
        return refs, gates

    @staticmethod
    def _compile_dupes(chk: Unique, count_col: str) -> _Dupes:
        key = tuple(chk.columns)
        items = (
            F.col("__pid").alias("part_id"),
            F.lit(chk.name).alias("check_id"),
            (F.col("conv_id") if "conv_id" in key else F.lit(None)).cast("string").alias("conv_id"),
            (F.col("turn_idx") if "turn_idx" in key else F.lit(None)).cast("int").alias("turn_idx"),
            F.lit(",".join(key)).alias("column"),
            F.format_string("duplicate key count=%s", F.col("__n").cast("string")).alias("detail"),
        )
        return _Dupes(chk, items, count_col)

    # ------------------------------------------------------------------ plan

    def _flagged(self, fact: DataFrame) -> FlagPlan:
        """Two-stage flagging plan, shuffle-volume-aware:

        Stage A (map-only, pre-shuffle): evaluate every row-level
        predicate against the full row and materialize (flag, sparse
        detail string) pairs, plus the raw-text HASH for text equality
        — then PROJECT to a narrow frame (keys, ts, fk columns, flags,
        details). Wide payload columns stay out of every shuffle, with
        one measured exception: a canonicalizing TextEquals check
        carries its text through the fact-side hash(conv_id) exchange,
        so that only rows whose raw hash differs from the reference are
        canonicalized after the SMJ (−59% executor CPU for +68% shuffle
        bytes, see the module docstring).

        Stage B: referential joins, then ONE select that computes every
        join flag and the ordering and uniqueness windows and drops the
        join helpers and the text. When a check needs conversation
        locality, the frame is hash-repartitioned ONCE on conv_id and
        every downstream operator — the reference-equality join on
        (conv_id, turn_idx), the conversations-dim join on conv_id, and
        the windows — rides that single exchange (subset co-partitioning
        via ``spark.sql.requireAllClusterKeysForCoPartition=false``; the
        windows even reuse the SMJ sort because conv_id,turn_idx ordering
        is a prefix of their requirement). Measured at 9M rows this
        removes one full-frame exchange + one sort vs the naive plan.

        Precomputed detail columns ride along as ``<flag_col>_d``.
        """
        c = self._compiled
        fact_cols = set(fact.columns)
        items = [it for it in c.narrow if it.need is None or it.need in fact_cols]
        df = fact.select(*[it.expr for it in items])  # ← the narrow frame
        drift_cols = {name: col for name, need, col in c.drift if need is None or need in fact_cols}
        if not c.clustered:
            return FlagPlan(df, c.flags, False, drift_cols)

        # single-exchange clustering: everything below (reference join,
        # dim joins on conv_id, windows, ref-side dedup) rides ONE
        # hash(conv_id) repartition; subset co-partitioning lets the
        # (conv_id, turn_idx) SMJ reuse it
        # NOTE: subset co-partitioning relies on
        # spark.sql.requireAllClusterKeysForCoPartition=false, set ONCE in
        # session.get_spark (not here — mutating session conf mid-plan
        # would leak into unrelated queries on a shared session)
        n_shuffle = int(fact.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        if not self.pre_clustered:
            df = df.repartition(n_shuffle, "conv_id")
        for ref in c.refs:
            side = self.reference.select(*ref.items)
            if ref.conv:
                side = side.repartition(n_shuffle, ref.conv)
            df = df.join(side.dropDuplicates(list(ref.keys)), ref.cond, "left")
        for d in c.dims:
            side = self.dims[d.dim].select(*d.items)
            if d.broadcast:
                side = F.broadcast(side.dropDuplicates())
            elif d.conv:
                # dim shuffles once on conv_id; the fact side is
                # already there, so this SMJ adds no fact-side exchange
                # (and its conv_id sort is a prefix of the TE-join sort)
                side = side.repartition(n_shuffle, d.pk0).dropDuplicates()
            else:
                side = side.dropDuplicates()
            # SQL FK semantics: a NULL pk never matches (null dim rows are
            # dropped)
            df = df.join(side.na.drop(subset=[d.pk0]), d.cond, "left")
        df = df.select(*[it.keep for it in items if it.keep is not None], *c.post)
        return FlagPlan(df, c.flags, True, drift_cols)

    def _detail(self, chk: Check, flag_col: str) -> F.Column:
        if isinstance(chk, RefIntegrity):
            return F.format_string(
                f"dangling fk ({','.join(chk.fk)})=%s vs dim {chk.dim}",
                F.concat_ws(",", *[F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in chk.fk]),
            )
        if isinstance(chk, MonotonicOrder):
            return F.format_string(
                "order violation prev=%s cur=%s",
                F.coalesce(F.col(f"{flag_col}_prev").cast("string"), F.lit("START")),
                F.col(chk.order_col).cast("string"),
            )
        if isinstance(chk, TextEquals):
            return F.lit("canonical text differs from reference")
        if isinstance(chk, Unique):
            return F.format_string(
                "duplicate key count=%s", F.col(f"{flag_col}_n").cast("string")
            )
        # row-level checks: detail was materialized pre-shuffle (sparse)
        return F.coalesce(F.col(f"{flag_col}_d"), F.lit(""))

    def _column_of(self, chk: Check) -> str:
        if isinstance(chk, RefIntegrity):
            return ",".join(chk.fk)
        if isinstance(chk, MonotonicOrder):
            return chk.order_col
        if isinstance(chk, TextEquals):
            return chk.column
        if isinstance(chk, Unique):
            return ",".join(chk.columns)
        return chk.column_name()

    def _row_violations(self, flagged: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
        """One row per (row, failed check): VIOLATIONS_SCHEMA, with
        ``extra_cols`` of the narrow frame (e.g. the streaming ``ts``)
        placed after turn_idx."""
        c = self._compiled
        if not c.flags:
            return local_frame(flagged.sparkSession, [], VIOLATIONS_SCHEMA)
        extra = [F.col(x) for x in extra_cols]
        head, tail = c.violation
        return flagged.select(*c.explode, *extra).select(*head, *extra, *tail)

    def _unique_violations(self, flagged: DataFrame) -> list[tuple[str, DataFrame]]:
        """(count column, duplicate keys) of every Unique check that is
        not a window flag: the frame is not clustered or the key lacks
        conv_id. Counted over the persisted narrow frame (every Unique
        key column rides it), so uniqueness adds no fact scan; a salted
        check runs the two-phase aggregation (partial counts per cached
        split → final merge) that the hot-key skew tests exercise."""
        out = []
        if not self._compiled.dupes:
            return out
        src = flagged.withColumnRenamed("part_id", "__pid")
        for d in self._compiled.dupes:
            key = d.check.columns
            if d.check.salted:
                partial = src.groupBy(
                    "__pid", *key, F.spark_partition_id().alias("__salt")
                ).agg(F.count(F.lit(1)).alias("__c"))
                totals = partial.groupBy("__pid", *key).agg(F.sum("__c").alias("__n"))
            else:
                totals = src.groupBy("__pid", *key).agg(F.count(F.lit(1)).alias("__n"))
            out.append((d.count_col, totals.filter(F.col("__n") > 1).select(*d.items)))
        return out

    # ------------------------------------------------------------------ run

    def run(self, fact: DataFrame) -> ValidationResult:
        """Validate ``fact``. Every output derives from one ``FlagPlan``
        whose narrow frame is always persisted (MEMORY_AND_DISK), so the
        expensive flagged scan (full-row predicates + canonicalize +
        joins + windows) runs once although violations, verdicts and
        drift histograms all read it.

        The persisted frame is returned as ``result.cached`` — call
        ``result.unpersist()`` once both outputs are materialized."""
        spark = fact.sparkSession
        c = self._compiled
        plan = self._flagged(fact)
        flagged = plan.frame.persist(StorageLevel.MEMORY_AND_DISK)
        violations = self._row_violations(flagged)

        # one aggregate over the cache gives every per-partition verdict;
        # a Freshness check's as_of defaults to now, bound here
        values = list(c.verdicts)
        for chk, col in c.fresh:
            as_of = chk.as_of if chk.as_of is not None else int(time.time())
            lag = (F.lit(as_of) - F.col(col)).cast("double")
            values.append(
                _verdict(chk.name, F.lit(None), F.lit(0), lag, lag <= chk.max_age_seconds)
            )
        if values:
            counts = flagged.groupBy("part_id").agg(*c.aggs)
            for col, dupes in self._unique_violations(flagged):
                violations = violations.unionByName(dupes)
                n = dupes.groupBy("part_id").agg(F.count(F.lit(1)).alias(col))
                counts = counts.join(n, "part_id", "left")
            verdicts = counts.unpivot("part_id", values, "__check", "v").select("part_id", "v.*")
        else:
            verdicts = local_frame(spark, [], VERDICTS_SCHEMA)

        # dataset-level schema conformance: global -1 partition verdict
        for chk in dsl.of_type(self.checks, SchemaConformance):
            diffs = self._schema_diffs(spark, fact, chk)
            if diffs:
                violations = violations.unionByName(
                    local_frame(
                        spark,
                        [(-1, chk.name, None, None, c, d) for c, d in diffs],
                        VIOLATIONS_SCHEMA,
                    )
                )
            verdicts = verdicts.unionByName(
                local_frame(
                    spark,
                    [(-1, chk.name, 0, len(diffs), None, len(diffs) == 0)],
                    VERDICTS_SCHEMA,
                )
            )

        drift_checks = dsl.of_type(self.checks, Drift)
        if drift_checks and self.baselines:
            from hdfs_anomaly_detection_spark.sketch.drift import drift_verdicts

            # feed the histograms from the persisted narrow frame (the
            # metric was pre-computed map-side as one double column):
            # Drift adds ZERO extra fact scans
            metric_frames: dict[str, DataFrame] = {}
            for chk in drift_checks:
                src = plan.drift_cols.get(chk.name)
                if src == "turn_count":
                    metric_frames[chk.metric] = (
                        flagged.groupBy("part_id", "conv_id")
                        .agg(F.count(F.lit(1)).alias("value"))
                        .select("part_id", "value")
                    )
                elif src is not None:
                    metric_frames[chk.metric] = flagged.select(
                        "part_id", F.col(src).alias("value")
                    )
            dv = drift_verdicts(
                fact,
                drift_checks,
                self.baselines,
                n_buckets=self.n_buckets,
                metric_frames=metric_frames,
                part_col=self.part_col,
            )
            verdicts = verdicts.unionByName(dv)

        return ValidationResult(
            violations=violations, verdicts=verdicts, cached=flagged
        )

    @staticmethod
    def _schema_diffs(
        spark: SparkSession, fact: DataFrame, chk: SchemaConformance
    ) -> list[tuple[str, str]]:
        """(column, detail) discrepancies vs the expected DDL schema."""
        from pyspark.sql.types import StructType

        expected = {
            f.name: f.dataType.simpleString()
            for f in StructType.fromDDL(chk.expected_ddl).fields
        }
        actual = {f.name: f.dataType.simpleString() for f in fact.schema.fields}
        diffs: list[tuple[str, str]] = []
        for name, dt in expected.items():
            if name not in actual:
                diffs.append((name, f"missing column (expected {dt})"))
            elif actual[name] != dt:
                diffs.append((name, f"type mismatch: expected {dt}, got {actual[name]}"))
        if not chk.allow_extra:
            for name in actual:
                if name not in expected:
                    diffs.append((name, f"unexpected column ({actual[name]})"))
        return diffs
