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
* The narrow flagged frame is hash-repartitioned once on the cluster key
  (conv_id); the reference-equality SMJ, dim joins, ordering windows,
  uniqueness counts, per-partition row counts AND drift-metric histograms
  all ride that single exchange (subset co-partitioning) — in the
  clustered plan the fact table is scanned exactly once per run, with
  the persisted narrow frame (~50 B/row) feeding every output.
  Freshness also aggregates from the narrow frame when its ts column
  rides it (true for the standard suite via MonotonicOrder's tiebreak);
  otherwise it falls back to a pruned ts scan.
* Uniqueness without clustering runs as a salted two-phase aggregation
  (partial counts per input split → final merge), so a hot
  (conv_id, turn_idx) key never concentrates on one reducer; with
  clustering the count is partition-local (strictly better — zero
  cross-node movement for the same exact counts).
* Verdicts = tiny aggregates: violation counts per (part_id, check_id)
  joined against per-partition row counts. Nothing driver-side is
  proportional to row count.

The per-row verdict record mirrors the reference's ``AnomalyResult``
(``anomaly-detection-service/anomaly_detection_service.py:58-68``); the
per-partition pass/fail mirrors its OK/WARNING/CRITICAL CASE thresholds
(``grafana/grafana_test_queries.sql:34-52``).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
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

VIOLATIONS_SCHEMA = (
    "part_id int, check_id string, conv_id string, turn_idx int, column string, detail string"
)
VERDICTS_SCHEMA = (
    "part_id int, check_id string, n_rows bigint, n_violations bigint, "
    "statistic double, passed boolean"
)


def part_id_expr(conv_col: str = "conv_id", n_buckets: int = 32) -> F.Column:
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_buckets)).cast("int")


def reference_hashes(ref_df: DataFrame, chk) -> DataFrame:
    """Precompute the reference side of a TextEquals check as
    (keys..., canon_hash). The reference corpus is static across runs —
    canonicalizing it once and persisting the hashes halves the regex
    work of every validation run (pass the result as
    ``ValidationRunner(reference=...)``)."""
    src = F.col(chk.column)
    h = canonicalize(src) if chk.canonicalize else src
    return ref_df.select(
        *chk.keys, F.when(src.isNotNull(), F.xxhash64(h)).alias("canon_hash")
    )


@dataclass
class ValidationResult:
    violations: DataFrame  # VIOLATIONS_SCHEMA
    verdicts: DataFrame  # VERDICTS_SCHEMA
    # the intermediate the runner persisted (narrow flagged frame or the
    # violations frame); callers should ``unpersist()`` once both outputs
    # are materialized so long-lived sessions don't accumulate cache
    cached: DataFrame | None = None

    def unpersist(self) -> None:
        if self.cached is not None:
            self.cached.unpersist()
            self.cached = None


class ValidationRunner:
    def __init__(
        self,
        checks: list[Check],
        n_buckets: int = 32,
        dims: dict[str, DataFrame] | None = None,
        reference: DataFrame | None = None,
        baselines: dict[str, pd.DataFrame] | None = None,
        part_col: str | None = None,
        cluster_key: str | None = "conv_id",
        carry_cols: tuple[str, ...] = (),
        pre_clustered: bool = False,
    ) -> None:
        """``part_col``: use an existing int column as the partition id
        (e.g. an Iceberg partition column) instead of the default
        ``pmod(xxhash64(conv_id), n_buckets)``. Must be functionally
        dependent on conv_id so verdicts stay conversation-aligned.

        ``cluster_key``: when set (default ``conv_id``), the narrow frame
        is hash-repartitioned ONCE on this column and every downstream
        operator — the reference-equality join on (conv_id, turn_idx),
        the conversations-dim join on conv_id, and the ordering windows —
        rides that single exchange (subset co-partitioning via
        ``spark.sql.requireAllClusterKeysForCoPartition=false``; the
        window even reuses the SMJ sort because conv_id,turn_idx ordering
        is a superset of the window's requirement). Measured at 9M rows
        this removes one full-frame exchange + one sort vs the naive
        plan. Set to None to let Catalyst plan each exchange
        independently.

        ``pre_clustered``: the input table is ALREADY hash-distributed
        by ``cluster_key`` — a bucketed table (``sources/bucketed``,
        read via ``spark.table`` so the bucket spec survives) or an
        Iceberg ``bucket(N, conv_id)`` layout. The runner then skips
        its own repartition and the scan's bucket partitioning carries
        the whole plan: at 10^12 turns this moves the engine's one
        remaining full-frame exchange (~50 B/row × rows per run) into
        storage, amortized across every subsequent validation of the
        same table. Safe degradation: if the input is NOT actually
        bucketed, EnsureRequirements simply re-inserts the exchanges —
        same results, the old cost."""
        self.checks = checks
        self.n_buckets = n_buckets
        self.dims = dims or {}
        self.reference = reference
        self.baselines = baselines or {}
        self.part_col = part_col
        self.cluster_key = cluster_key
        # payload columns a caller needs carried through the narrow frame
        # (e.g. the streaming watermark needs ts); every extra column
        # multiplies across all downstream exchanges, so opt-in only
        self.carry_cols = tuple(carry_cols)
        self.pre_clustered = pre_clustered

    def pid_expr(self) -> F.Column:
        if self.part_col:
            return F.col(self.part_col).cast("int")
        return part_id_expr(n_buckets=self.n_buckets)

    # ------------------------------------------------------------------ plan

    def _flagged(self, fact: DataFrame) -> tuple[DataFrame, list[tuple[Check, str]]]:
        """Two-stage flagging plan, shuffle-volume-aware:

        Stage A (map-only, pre-shuffle): evaluate every row-level
        predicate against the full row and materialize (flag, sparse
        detail string) pairs, plus the canonical-text HASH for text
        equality — then PROJECT to a narrow frame (keys, ts, fk columns,
        flags, details). Wide payload columns (text) never enter a
        shuffle: at 10^12 turns the window/join exchanges move ~50 B/row
        instead of the full transcript text.

        Stage B: referential joins + ordering windows over the narrow
        frame only.

        Returns (flagged_df, [(check, flag_col)]); precomputed detail
        columns ride along as ``<flag_col>_d``.
        """
        row_checks = dsl.row_level(self.checks)
        ri_checks = dsl.of_type(self.checks, RefIntegrity)
        mono_checks = dsl.of_type(self.checks, MonotonicOrder)
        te_checks = dsl.of_type(self.checks, TextEquals) if self.reference is not None else []
        drift_checks = dsl.of_type(self.checks, Drift)

        fact_cols = set(fact.columns)
        extra: set[str] = set()
        for chk in mono_checks:
            extra |= set(chk.partition_cols) | set(chk.tiebreak) | {chk.order_col}
        for chk in ri_checks:
            extra |= set(chk.fk)
        for chk in te_checks:
            extra |= set(chk.keys)
        # NOTE: ts (or any other payload column) enters the narrow frame
        # only if a check references it or the caller asked via carry_cols
        # — every surplus 8B/row column multiplies across all downstream
        # exchanges
        extra |= set(self.carry_cols)
        # the cluster key must exist IN THE NARROW FRAME (the repartition
        # below runs on it) even when no check references it
        if self.cluster_key is not None:
            extra |= {self.cluster_key} & fact_cols
        extra -= {"conv_id", "turn_idx"}

        select_cols = [
            self.pid_expr().alias("part_id"),
            F.col("conv_id"),
            F.col("turn_idx"),
            *[F.col(c) for c in sorted(extra & fact_cols)],
        ]
        flags: list[tuple[Check, str]] = []
        for i, chk in enumerate(row_checks):
            col = f"__v{i}"
            pred = F.coalesce(chk.violation_expr(), F.lit(False))
            select_cols.append(pred.alias(col))
            select_cols.append(F.when(pred, chk.detail_expr()).alias(f"{col}_d"))
            flags.append((chk, col))
        for t, chk in enumerate(te_checks):
            src = F.col(chk.column)
            lhs = canonicalize(src) if chk.canonicalize else src
            select_cols.append(
                F.when(src.isNotNull(), F.xxhash64(lhs)).alias(f"__te{t}_h")
            )
        # drift metrics ride the narrow frame as one pre-computed double
        # per check (e.g. length(text) — 8 B/row instead of a second full
        # scan of the wide fact table later); 'turn_count' needs no column
        # at all (it aggregates the keys already present)
        self._drift_cols: dict[str, str] = {}
        for g, chk in enumerate(drift_checks):
            if chk.metric == "turn_count":
                self._drift_cols[chk.name] = "turn_count"
            elif chk.metric == "text_length" and "text" in fact_cols:
                select_cols.append(F.length(F.col("text")).cast("double").alias(f"__dm{g}"))
                self._drift_cols[chk.name] = f"__dm{g}"
            elif chk.metric in fact_cols:
                select_cols.append(F.col(chk.metric).cast("double").alias(f"__dm{g}"))
                self._drift_cols[chk.name] = f"__dm{g}"
        df = fact.select(*select_cols)  # ← the narrow frame

        # single-exchange clustering: everything below (reference join,
        # dim joins on the cluster key, ordering windows, ref-side dedup)
        # rides ONE hash(cluster_key) repartition; subset co-partitioning
        # lets the (conv_id, turn_idx) SMJ reuse it
        # NOTE: subset co-partitioning relies on
        # spark.sql.requireAllClusterKeysForCoPartition=false, set ONCE in
        # session.get_spark (not here — mutating session conf mid-plan
        # would leak into unrelated queries on a shared session)
        n_shuffle = int(fact.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        clustered = self._clustered = bool(
            self.cluster_key is not None
            and self.cluster_key in fact.columns
            and (mono_checks or te_checks or ri_checks)
        )
        if clustered and not self.pre_clustered:
            df = df.repartition(n_shuffle, self.cluster_key)

        for t, chk in enumerate(te_checks):
            # compare canonical-text xxhash64 (computed pre-shuffle on both
            # sides) instead of shuffling megabyte text payloads; a hash
            # collision masking a true mismatch has probability ~2^-64
            col = f"__t{t}"
            ref_hash = f"__ref{t}_h"
            if "canon_hash" in self.reference.columns and chk.column not in self.reference.columns:
                # reference side pre-hashed once via reference_hashes()
                ref = self.reference.select(
                    *[F.col(k).alias(f"__ref{t}_{k}") for k in chk.keys],
                    F.col("canon_hash").alias(ref_hash),
                )
            else:
                src = F.col(chk.column)
                rhs = canonicalize(src) if chk.canonicalize else src
                ref = self.reference.select(
                    *[F.col(k).alias(f"__ref{t}_{k}") for k in chk.keys],
                    F.when(src.isNotNull(), F.xxhash64(rhs)).alias(ref_hash),
                )
            if clustered and self.cluster_key in chk.keys:
                # co-partition the reference on the same key so BOTH the
                # dedup below and the equality join stay exchange-free
                ref = ref.repartition(n_shuffle, f"__ref{t}_{self.cluster_key}")
            ref = ref.dropDuplicates([f"__ref{t}_{k}" for k in chk.keys])
            # plain equality, not eqNullSafe: NULL keys never match a
            # reference row either way (left join ⇒ ref_hash null ⇒ no
            # flag), and <=> keys get coalesce-wrapped by the planner,
            # which breaks hash-partitioning reuse and forces the SMJ +
            # downstream window to re-exchange the whole frame
            cond = None
            for k in chk.keys:
                c = df[k] == ref[f"__ref{t}_{k}"]
                cond = c if cond is None else cond & c
            df = df.join(ref, cond, "left")
            df = df.withColumn(
                col,
                F.col(ref_hash).isNotNull()
                & F.col(f"__te{t}_h").isNotNull()
                & (F.col(f"__te{t}_h") != F.col(ref_hash)),
            ).drop(*[f"__ref{t}_{k}" for k in chk.keys], ref_hash)
            flags.append((chk, col))

        for j, chk in enumerate(ri_checks):
            col = f"__r{j}"
            dim = self.dims[chk.dim]
            pk = chk.pk or chk.fk
            sel = dim.select(
                *[F.col(p).alias(f"__pk{j}_{k}") for k, p in enumerate(pk)]
            )
            if chk.broadcast:
                sel = F.broadcast(sel.dropDuplicates())
            elif clustered and chk.fk == (self.cluster_key,):
                # dim shuffles once on the cluster key; the fact side is
                # already there, so this SMJ adds no fact-side exchange
                # (and its conv_id sort is a prefix of the TE-join sort)
                sel = sel.repartition(n_shuffle, f"__pk{j}_0").dropDuplicates()
            else:
                sel = sel.dropDuplicates()
            # SQL FK semantics: a NULL pk never matches (null dim rows are
            # dropped); plain equality keeps hash-partitioning reusable
            # (eqNullSafe keys get coalesce-wrapped ⇒ forced re-exchange)
            sel = sel.na.drop(subset=[f"__pk{j}_0"])
            cond = None
            for k, fk_col in enumerate(chk.fk):
                c = df[fk_col] == sel[f"__pk{j}_{k}"]
                cond = c if cond is None else cond & c
            df = df.join(sel, cond, "left")
            dangling = F.col(f"__pk{j}_0").isNull()
            if chk.ignore_null:
                notnull = None
                for fk_col in chk.fk:
                    nn = F.col(fk_col).isNotNull()
                    notnull = nn if notnull is None else notnull & nn
                dangling = notnull & dangling
            df = df.withColumn(col, dangling).drop(
                *[f"__pk{j}_{k}" for k in range(len(pk))]
            )
            flags.append((chk, col))

        for m, chk in enumerate(mono_checks):
            col = f"__w{m}"
            w = Window.partitionBy(*chk.partition_cols).orderBy(
                chk.order_col, *chk.tiebreak
            )
            cur = F.col(chk.order_col)
            prev = F.lag(chk.order_col).over(w)
            if chk.contiguous:
                step_bad = cur != prev + 1
            else:
                step_bad = cur <= prev
            first_bad = (
                (cur != F.lit(chk.start)) if chk.start is not None else F.lit(False)
            )
            df = df.withColumn(
                col, F.when(prev.isNull(), first_bad).otherwise(step_bad)
            ).withColumn(f"{col}_prev", prev)
            flags.append((chk, col))

        return df, flags

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
        # row-level checks: detail was materialized pre-shuffle (sparse)
        return F.coalesce(F.col(f"{flag_col}_d"), F.lit(""))

    def _column_of(self, chk: Check) -> str:
        if isinstance(chk, RefIntegrity):
            return ",".join(chk.fk)
        if isinstance(chk, MonotonicOrder):
            return chk.order_col
        if isinstance(chk, TextEquals):
            return chk.column
        return chk.column_name()

    def _row_violations(self, flagged: DataFrame, flags: list[tuple[Check, str]]) -> DataFrame:
        if not flags:
            return flagged.sparkSession.createDataFrame([], VIOLATIONS_SCHEMA)
        structs = [
            F.when(
                F.col(col),
                F.struct(
                    F.lit(chk.name).alias("check_id"),
                    F.lit(self._column_of(chk)).alias("column"),
                    self._detail(chk, col).alias("detail"),
                ),
            )
            for chk, col in flags
        ]
        return (
            flagged.select(
                "part_id",
                "conv_id",
                "turn_idx",
                F.explode(F.array_compact(F.array(*structs))).alias("v"),
            )
            .select(
                "part_id",
                F.col("v.check_id").alias("check_id"),
                "conv_id",
                "turn_idx",
                F.col("v.column").alias("column"),
                F.col("v.detail").alias("detail"),
            )
        )

    def _unique_violations(
        self, fact: DataFrame, flagged: DataFrame | None = None
    ) -> DataFrame | None:
        """``flagged``: when the clustered narrow frame is available AND
        the unique key contains the cluster key, count duplicates on it —
        the frame is hash-partitioned by a subset of the grouping keys,
        so the aggregation is partition-local: no extra scan of the fact
        table and no extra shuffle. The salted two-phase aggregation
        remains the path whenever clustering is unavailable (and is what
        hot-key skew tests exercise)."""
        out = None
        for chk in dsl.of_type(self.checks, Unique):
            key = list(chk.columns)
            rides_cluster = (
                flagged is not None
                and self.cluster_key in key
                and all(k in flagged.columns for k in key)
            )
            if rides_cluster:
                src = flagged.withColumnRenamed("part_id", "__pid")
            else:
                src = fact.withColumn("__pid", self.pid_expr())
            if chk.salted and not rides_cluster:
                # phase 1: partial counts keyed by input split (explicit salt)
                partial = src.groupBy(
                    "__pid", *key, F.spark_partition_id().alias("__salt")
                ).agg(F.count(F.lit(1)).alias("__c"))
                totals = partial.groupBy("__pid", *key).agg(F.sum("__c").alias("__n"))
            else:
                totals = src.groupBy("__pid", *key).agg(F.count(F.lit(1)).alias("__n"))
            dupes = totals.filter(F.col("__n") > 1).select(
                F.col("__pid").alias("part_id"),
                F.lit(chk.name).alias("check_id"),
                (F.col("conv_id") if "conv_id" in key else F.lit(None)).cast("string").alias("conv_id"),
                (F.col("turn_idx") if "turn_idx" in key else F.lit(None)).cast("int").alias("turn_idx"),
                F.lit(",".join(key)).alias("column"),
                F.format_string("duplicate key count=%s", F.col("__n").cast("string")).alias("detail"),
            )
            out = dupes if out is None else out.unionByName(dupes)
        return out

    # ------------------------------------------------------------------ run

    def run(self, fact: DataFrame, persist: bool = True) -> ValidationResult:
        """``persist=True`` caches one intermediate so the expensive
        flagged scan (full-row predicates + canonicalize + joins +
        windows) executes once even though several outputs consume it:

        * clustered plan: the NARROW flagged frame is persisted
          (MEMORY_AND_DISK; ~50 B/row). Row violations (explode),
          uniqueness counts (partition-local — the frame is already
          hash-partitioned on the cluster key), per-partition row
          counts, drift-metric histograms and freshness max-ts aggregates
          (when ts rides the frame) are all derived from it: the fact
          table is scanned exactly once per run.
        * unclustered plan: the (much smaller) violations frame is
          persisted and uniqueness/row counts re-scan fact with pruned
          columns; a Drift check still forces the narrow-frame cache so
          histograms never re-read the wide table.

        The persisted intermediate is returned as ``result.cached`` —
        call ``result.unpersist()`` once both outputs are materialized."""
        from pyspark import StorageLevel

        spark = fact.sparkSession
        flagged, flags = self._flagged(fact)
        # reuse of the flagged frame by uniqueness/row-counts/drift only
        # pays when it is cached — otherwise they would recompute the
        # whole expensive scan and the pruned fact scans are cheaper.
        # Drift metrics riding the narrow frame (self._drift_cols) make
        # the cache worthwhile even without clustering: the histogram pass
        # then reads ~8 B/row from cache instead of re-scanning fact.
        reuse = persist and (
            getattr(self, "_clustered", False) or bool(self._drift_cols)
        )
        cached: DataFrame | None = None
        if reuse:
            flagged = flagged.persist(StorageLevel.MEMORY_AND_DISK)
            cached = flagged
        violations = self._row_violations(flagged, flags)
        uniq = self._unique_violations(
            fact, flagged if reuse and getattr(self, "_clustered", False) else None
        )
        if uniq is not None:
            violations = violations.unionByName(uniq)
        if persist and not reuse:
            violations = violations.persist(StorageLevel.MEMORY_AND_DISK)
            cached = violations

        # per-partition row counts: from the cached narrow frame when
        # available (tiny partial-agg shuffle), else a column-pruned scan
        if reuse:
            parts = flagged.groupBy("part_id").agg(F.count(F.lit(1)).alias("n_rows"))
        else:
            parts = fact.select(self.pid_expr().alias("part_id")).groupBy(
                "part_id"
            ).agg(F.count(F.lit(1)).alias("n_rows"))

        count_checks = [
            c
            for c in self.checks
            if not isinstance(c, (Drift, SchemaConformance, Freshness))
        ]
        grid = parts.crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [(c.name, float(c.max_violation_rate)) for c in count_checks],
                    "check_id string, max_rate double",
                )
            )
        )
        counts = violations.groupBy("part_id", "check_id").agg(
            F.count(F.lit(1)).alias("n_violations")
        )
        verdicts = (
            grid.join(counts, ["part_id", "check_id"], "left")
            .select(
                "part_id",
                "check_id",
                "n_rows",
                F.coalesce(F.col("n_violations"), F.lit(0)).alias("n_violations"),
                F.lit(None).cast("double").alias("statistic"),
                (
                    F.coalesce(F.col("n_violations"), F.lit(0))
                    <= F.col("max_rate") * F.col("n_rows")
                ).alias("passed"),
            )
        )

        # dataset-level schema conformance: global -1 partition verdict
        for chk in dsl.of_type(self.checks, SchemaConformance):
            diffs = self._schema_diffs(spark, fact, chk)
            if diffs:
                violations = violations.unionByName(
                    spark.createDataFrame(
                        [(-1, chk.name, None, None, c, d) for c, d in diffs],
                        VIOLATIONS_SCHEMA,
                    )
                )
            verdicts = verdicts.unionByName(
                spark.createDataFrame(
                    [(-1, chk.name, 0, len(diffs), None, len(diffs) == 0)],
                    VERDICTS_SCHEMA,
                )
            )

        # per-partition freshness verdicts (tiny max-ts aggregate) — from
        # the persisted narrow frame whenever ts already rides it (it
        # does for the standard suite: MonotonicOrder's tiebreak carries
        # ts), else a pruned fact scan
        fresh_checks = dsl.of_type(self.checks, Freshness)
        if fresh_checks:
            import time as _time

            for chk in fresh_checks:
                as_of = chk.as_of if chk.as_of is not None else int(_time.time())
                lag = (F.lit(as_of) - F.unix_timestamp(F.max(F.col(chk.ts_col)))).cast(
                    "double"
                )
                if reuse and chk.ts_col in flagged.columns:
                    grouped = flagged.groupBy("part_id")
                else:
                    grouped = fact.groupBy(self.pid_expr().alias("part_id"))
                fv = (
                    grouped.agg(lag.alias("statistic"))
                    .select(
                        "part_id",
                        F.lit(chk.name).alias("check_id"),
                        F.lit(None).cast("bigint").alias("n_rows"),
                        F.lit(0).cast("bigint").alias("n_violations"),
                        "statistic",
                        (F.col("statistic") <= chk.max_age_seconds).alias("passed"),
                    )
                )
                verdicts = verdicts.unionByName(fv)

        drift_checks = dsl.of_type(self.checks, Drift)
        if drift_checks and self.baselines:
            from hdfs_anomaly_detection_spark.sketch.drift import drift_verdicts

            # feed the histograms from the persisted narrow frame (the
            # metric was pre-computed map-side as one double column):
            # Drift adds ZERO extra fact scans to the clustered plan
            metric_frames: dict[str, DataFrame] | None = None
            if reuse:
                metric_frames = {}
                for chk in drift_checks:
                    src = self._drift_cols.get(chk.name)
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
            violations=violations, verdicts=verdicts, cached=cached
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
