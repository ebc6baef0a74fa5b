"""Declarative constraint DSL → Catalyst predicate compiler.

The reference's prototype for this is its keyword-predicate battery —
~50 substring patterns folded into one boolean verdict per row
(``training/hdfs_line_level_loader_v2.py:92-154``) — plus the CASE
threshold verdicts in its SQL corpus
(``grafana/grafana_test_queries.sql:34-52``) and the silent null-drop at
``cloud-deployment/spark_job.py:103``. Here each constraint is a small
dataclass that compiles to a ``pyspark.sql.Column`` boolean (True ⇒ the
row VIOLATES) plus a human-readable detail expression. Checks that need
a shuffle (uniqueness), a join (referential integrity, text equality) or
a window (ordering) declare that instead of a row predicate; the runner
plans them.

Everything row-level stays inside whole-stage codegen — zero Python in
the hot path (``input_hint`` mandate: no per-row Python).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """Base. ``name`` is the check_id in violations/verdicts output.
    ``max_violation_rate``: partition passes if violations/rows ≤ rate."""

    name: str
    max_violation_rate: float = 0.0

    # --- row-level contract (overridden by row-predicate checks) ---
    def violation_expr(self) -> Column | None:
        return None

    def detail_expr(self) -> Column:
        return F.lit("")

    def column_name(self) -> str:
        return ""


@dataclass(frozen=True)
class NotNull(Check):
    column: str = ""

    def violation_expr(self) -> Column:
        return F.col(self.column).isNull()

    def detail_expr(self) -> Column:
        return F.lit("null value")

    def column_name(self) -> str:
        return self.column


@dataclass(frozen=True)
class Range(Check):
    """min/max inclusive; None = unbounded. Nulls don't violate Range
    (that's NotNull's job) — matches SQL three-valued logic."""

    column: str = ""
    min: float | int | None = None
    max: float | int | None = None

    def violation_expr(self) -> Column:
        c = F.col(self.column)
        cond = F.lit(False)
        if self.min is not None:
            cond = cond | (c < F.lit(self.min))
        if self.max is not None:
            cond = cond | (c > F.lit(self.max))
        return c.isNotNull() & cond

    def detail_expr(self) -> Column:
        return F.format_string(
            f"value=%s out of [{self.min},{self.max}]", F.col(self.column).cast("string")
        )

    def column_name(self) -> str:
        return self.column


@dataclass(frozen=True)
class InSet(Check):
    column: str = ""
    values: tuple = ()
    allow_null: bool = True

    def violation_expr(self) -> Column:
        c = F.col(self.column)
        bad = ~c.isin(*self.values)
        if self.allow_null:
            return c.isNotNull() & bad
        return c.isNull() | bad

    def detail_expr(self) -> Column:
        return F.format_string("value=%s not in domain", F.coalesce(F.col(self.column).cast("string"), F.lit("NULL")))

    def column_name(self) -> str:
        return self.column


@dataclass(frozen=True)
class Regex(Check):
    """Violation when the column does NOT match the pattern."""

    column: str = ""
    pattern: str = ".*"

    def violation_expr(self) -> Column:
        c = F.col(self.column)
        return c.isNotNull() & ~c.rlike(self.pattern)

    def detail_expr(self) -> Column:
        return F.format_string("value=%s !~ pattern", F.substring(F.col(self.column), 1, 64))

    def column_name(self) -> str:
        return self.column


@dataclass(frozen=True)
class Unique(Check):
    """Key uniqueness via salted two-phase hash aggregation (runner-planned).

    Reference analogue: md5-content-hash dedup / skip-if-seen
    (``anomaly-detection-service/anomaly_detection_service.py:269-271,668-678``).
    """

    columns: tuple[str, ...] = ("conv_id", "turn_idx")
    salted: bool = True


@dataclass(frozen=True)
class RefIntegrity(Check):
    """FK column(s) must exist in a dimension table (runner-planned join).

    Reference analogue: BlockId→Label dict probe + notna filter = left-anti
    semantics (``training/hdfs_line_level_loader_v2.py:32,66,69-72``).
    ``broadcast=True`` hints a broadcast hash join (small dim); False
    leaves strategy to Catalyst/AQE (sort-merge for large dims).
    ``ignore_null=True``: null FKs don't violate (optional relationship).

    NULL-key semantics (SQL FK semantics, pinned by tests): dim rows
    with a NULL pk are dropped before the probe, and the join uses plain
    equality — so a NULL fk never matches anything. With
    ``ignore_null=False`` a NULL fk is therefore always flagged
    dangling; with ``ignore_null=True`` it is never flagged.
    """

    fk: tuple[str, ...] = ("conv_id",)
    dim: str = ""  # key into the runner's dims mapping
    pk: tuple[str, ...] = ()
    broadcast: bool = True
    ignore_null: bool = True


@dataclass(frozen=True)
class MonotonicOrder(Check):
    """Ordering invariant under the stable window
    ``partitionBy(partition_cols).orderBy(order_col, tiebreak)``:
    order_col must be strictly increasing; ``contiguous`` additionally
    requires step == 1 and first value == ``start`` (gap detection).
    Runner-planned (window)."""

    partition_cols: tuple[str, ...] = ("conv_id",)
    order_col: str = "turn_idx"
    tiebreak: tuple[str, ...] = ("ts",)
    contiguous: bool = True
    start: int | None = 0


@dataclass(frozen=True)
class TextEquals(Check):
    """Per-turn text equality vs a reference copy under canonicalization,
    with stable (conv_id, turn_idx) ordering (the north-star per-row
    invariant). Runner-planned (join vs reference table)."""

    column: str = "text"
    keys: tuple[str, ...] = ("conv_id", "turn_idx")
    canonicalize: bool = True


@dataclass(frozen=True)
class Drift(Check):
    """Distribution drift of a numeric metric vs a baseline bucket
    histogram (``sketch.drift``), scored per-partition with KS and PSI
    (runner-planned, sketch-based).

    metric: 'text_length' | 'turn_count' | any numeric column name.
    Reference analogue: percentile rarity thresholds
    (``training/hdfs_line_level_loader_v2.py:146-147``) and histogram
    bucket dashboards (``grafana/grafana_test_queries.sql:88-96``).
    """

    metric: str = "text_length"
    method: str = "ks"  # 'ks' | 'psi'
    threshold: float = 0.15


@dataclass(frozen=True)
class SchemaConformance(Check):
    """Expected physical schema (DDL string, e.g. "conv_id string, ...").
    Dataset-level: missing columns, extra columns and type mismatches
    become violations with a global (-1) partition verdict.

    Reference analogue: the dashboard datasource's required-tables/
    columns set-difference validation
    (``grafana/test_sqlite_datasource.py:58-77``) and the silent
    from_json-null schema handling our engine makes explicit
    (``cloud-deployment/spark_job.py:92-103``)."""

    expected_ddl: str = ""
    allow_extra: bool = False


@dataclass(frozen=True)
class Freshness(Check):
    """Per-partition max(ts_col) must be within ``max_age_seconds`` of
    ``as_of`` (epoch seconds). Verdict-only; statistic = staleness sec.

    Reference analogue: the data-freshness dashboard query
    (``grafana/grafana_test_queries.sql:313-322`` MAX(created_at) + lag
    CASE buckets)."""

    ts_col: str = "ts"
    max_age_seconds: int = 86_400
    as_of: int | None = None  # default: now at run time


def default_transcript_checks(dims: bool = True) -> list[Check]:
    """The standard constraint suite for the transcripts table."""
    checks: list[Check] = [
        NotNull("not_null_conv_id", column="conv_id"),
        NotNull("not_null_text", column="text"),
        NotNull("not_null_role", column="role"),
        NotNull("not_null_ts", column="ts"),
        Range("turn_idx_range", column="turn_idx", min=0, max=100_000),
        InSet("role_domain", column="role", values=("user", "assistant", "tool")),
        Unique("unique_turn", columns=("conv_id", "turn_idx")),
        MonotonicOrder("turn_order", partition_cols=("conv_id",), order_col="turn_idx"),
    ]
    if dims:
        checks += [
            RefIntegrity("ref_conv", fk=("conv_id",), dim="conversations", pk=("conv_id",), broadcast=False),
            RefIntegrity("ref_tool", fk=("tool",), dim="tools", pk=("tool",), broadcast=True),
        ]
    return checks


# ---------------------------------------------------------------------------
# helpers used by the runner


def row_level(checks: list[Check]) -> list[Check]:
    return [c for c in checks if c.violation_expr() is not None]


def of_type(checks: list[Check], t: type) -> list[Check]:
    return [c for c in checks if isinstance(c, t)]


def validated_columns(checks: list[Check]) -> set[str]:
    """The set of fact columns the checks actually READ — the basis for
    content-mode fingerprints (``ValidationJob``): a change to a column
    no check reads must not invalidate any partition.

    ``SchemaConformance`` reads the schema, not row content, so it
    contributes nothing; ``Drift`` derived metrics map to their source
    column (``text_length`` → text; ``turn_count`` groups rows by
    conv_id — ``sketch.drift.metric_frame`` — so a conv_id
    re-assignment changes the distribution and conv_id is its read
    set)."""
    cols: set[str] = set()
    for chk in checks:
        name = chk.column_name()
        if name:
            cols.add(name)
        if isinstance(chk, Unique):
            cols |= set(chk.columns)
        elif isinstance(chk, RefIntegrity):
            cols |= set(chk.fk)
        elif isinstance(chk, MonotonicOrder):
            cols |= set(chk.partition_cols) | set(chk.tiebreak) | {chk.order_col}
        elif isinstance(chk, TextEquals):
            cols |= set(chk.keys) | {chk.column}
        elif isinstance(chk, Drift):
            if chk.metric == "text_length":
                cols.add("text")
            elif chk.metric == "turn_count":
                cols.add("conv_id")
            else:
                cols.add(chk.metric)
        elif isinstance(chk, Freshness):
            cols.add(chk.ts_col)
    return cols
