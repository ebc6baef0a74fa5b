"""As-of (temporal nearest) join: for every left row, the latest right
row at-or-before its timestamp (``backward``) or the earliest at-or-after
(``forward``), per key.

The naive formulations are scale-killers at 10^12 rows: a range-predicate
join plans as BroadcastNestedLoop/cartesian, and a per-left correlated
subquery re-scans the right side. The distributed shape used here is the
classic UNION + ordered-window sweep (the same one Flink's temporal join
and kdb's ``aj`` compile to):

1. Tag right rows ``side=0`` and left rows ``side=1``, null-padding each
   side's missing columns, and UNION ALL — a zero-shuffle concat.
2. One hash exchange on the join keys + a per-key sort on
   ``(ts, side, tiebreak)`` — right-before-left at equal timestamps, so
   a right row with ``rts == lts`` IS matched (standard as-of ties).
3. ``last(payload, ignorenulls=True)`` over
   ``rowsBetween(unboundedPreceding, current)`` carries each right
   payload forward to every following left row of the same key — a
   single running-state pass inside the sorted partition.
4. Keep ``side=1`` rows; optionally null out matches older than
   ``tolerance`` seconds.

Cost: ONE exchange of (keys, ts, payload) — the same lower bound as any
key-partitioned join — and no row amplification at all (contrast the
binned interval join, which explodes intervals by width/bin). Key skew
lands a hot key in one task, the same exposure as any keyed window.
NOTE: key-salting is NOT a valid mitigation here (splitting a key's
rows across salt buckets hides right rows from left rows in other
buckets — wrong results); the correct hot-key treatment is to
range-split the key's TIMELINE and replicate each range's carry-in
(the right row a left row at the range boundary would match). That
two-pass rewrite is implemented behind ``hot_key_splits``: segment at
global left-ts quantiles, reduce the right side to one carry-out row
per (key, segment) (``max_by`` — map-side combined, tiny), chain
carry-outs into each later (earlier, for ``forward``) segment's
carry-in with a window over the per-segment aggregate frame, inject
the carry-ins as synthetic right rows, and sweep per (key, segment).

``forward`` flips the traversal (ts DESC) and keeps right-before-left
at ties, so ``rts == lts`` still matches.

Reference parity: the reference's history endpoint answers "the most
recent detection rows at a query instant" with an ORDER BY created_at
DESC over a timestamp-indexed table (hasb73/hdfs-anomaly-detection
``anomaly-detection-service/anomaly_detection_service.py:830-845``,
index at ``:135``); this operator is that latest-at-or-before lookup
generalized to per-key, per-left-row form as one declarative plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["asof_join"]


def _seconds(c: Column, dtype: T.DataType) -> Column:
    """Ordering column as double seconds/key-units, branched on the
    column's type: NUMERIC columns cast straight to double — routing
    them through a timestamp cast would null out values beyond the
    timestamp range (or sub-microsecond precision), silently voiding
    tolerance matches for large non-epoch keys. Every other type
    (TIMESTAMP, TIMESTAMP_NTZ, DATE, parseable strings) keeps the
    timestamp hop: NTZ refuses a direct double cast (session-UTC
    reinterpretation is a constant offset, gap-invariant), DATE has no
    double cast at all, and strings parse via timestamp semantics."""
    if isinstance(dtype, T.NumericType):
        return c.cast("double")
    return c.cast("timestamp").cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts: str = "ts",
    right_ts: str | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
    suffix: str = "_r",
    tiebreak: str | None = None,
    hot_key_splits: int = 1,
) -> DataFrame:
    """Left as-of join: every ``left`` row, plus the matched ``right``
    row's payload columns (renamed ``<col><suffix>`` on collision, and
    the matched timestamp always emitted as ``<ts><suffix>``); unmatched
    left rows keep nulls (LEFT join semantics).

    ``on``        — equi-key column names present in both frames.
    ``ts``        — left timestamp/ordering column (timestamp or numeric).
    ``right_ts``  — right-side ordering column (default: same name).
    ``direction`` — ``backward`` (latest right.ts <= left.ts, default) or
                    ``forward`` (earliest right.ts >= left.ts); both
                    include exact-equality ties.
    ``tolerance`` — max |left.ts - right.ts| in seconds (timestamps) or
                    key units (numerics); farther matches become null.
    ``tiebreak``  — right column ordering duplicates of (key, right_ts);
                    the LARGEST value under the column's NATIVE ordering
                    wins (deterministic). Without it, duplicate right
                    (key, ts) rows make the match nondeterministic —
                    dedupe upstream instead.
    ``hot_key_splits`` — >1 activates the documented hot-key rewrite:
                    every key's TIMELINE is range-split into up to this
                    many segments at global left-ts quantiles, each
                    segment's carry-in (the right row a left row at the
                    segment start would match) is replicated in, and
                    the sweep runs per (key, segment) — a single
                    pathologically hot key spreads over up to
                    ``hot_key_splits`` tasks instead of one. Output is
                    IDENTICAL to the unsplit plan (key-salting, by
                    contrast, would hide right rows — see module
                    docstring). Costs: one bounded quantile pass over
                    the left ordering column + two small exchanges of
                    per-(key, segment) aggregates. The quantile pass is
                    EAGER: ``approxQuantile`` runs a Spark job over the
                    left input when ``asof_join`` is called, to fix the
                    segment boundaries. The default (1) runs no job —
                    the call stays a lazy plan builder.

    Null ordering values AND null join keys are unmatchable (merge_asof
    / SQL ASOF semantics — ``NULL = NULL`` is not a match): right rows
    with a null ``right_ts`` or a null key never match anything, and
    left rows with a null ``ts`` or a null key are kept with a null
    match. Raises on suffixed-output-name collisions with existing left
    columns.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if hot_key_splits < 1:
        raise ValueError(f"hot_key_splits must be >= 1, got {hot_key_splits}")
    rts = right_ts or ts
    if rts not in right.columns:
        raise ValueError(f"right frame lacks ordering column {rts!r}")
    if tiebreak is not None and tiebreak not in right.columns:
        raise ValueError(f"right frame lacks tiebreak column {tiebreak!r}")
    for k in on:
        if k not in left.columns or k not in right.columns:
            raise ValueError(f"join key {k!r} missing from one side")

    payload = [c for c in right.columns if c not in on and c != rts]
    # output names: collide-with-left -> suffix; matched ts always suffixed
    out_name = {c: (c + suffix if c in left.columns else c) for c in payload}
    ts_out = ts + suffix
    out_cols = [*out_name.values(), ts_out]
    if len(set(out_cols)) != len(out_cols) or any(c in left.columns for c in out_cols):
        clash = sorted(
            {c for c in out_cols if c in left.columns or out_cols.count(c) > 1}
        )
        raise ValueError(
            f"suffixed output names collide with existing columns: {clash}; "
            f"rename the inputs or pass a different suffix than {suffix!r}"
        )

    side, ord_col, tie_col = "__asof_side", "__asof_ts", "__asof_tie"
    left_cols = [c for c in left.columns]
    # native-typed tiebreak: casting to double would null out (and thus
    # silently drop) string/decimal tiebreaks
    tie_type = right.schema[tiebreak].dataType if tiebreak else None

    lhs = left.select(
        *[F.col(c) for c in left_cols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(out_name[c]) for c in payload],
        F.lit(None).cast(right.schema[rts].dataType).alias(ts_out),
        F.col(ts).alias(ord_col),
        F.lit(1).alias(side),
        (F.lit(None).cast(tie_type) if tie_type else F.lit(0)).alias(tie_col),
    )
    # a right row with a null ordering value — or a null JOIN KEY — can
    # never match: SQL ASOF's `l.k = r.k` is unknown for NULL = NULL,
    # and merge_asof(by=...) agrees, but Window.partitionBy would group
    # null keys together; drop such right rows so a null-key left row
    # keeps a null match instead of pairing with a null-key right row
    right_matchable = F.col(rts).isNotNull()
    for k in on:
        right_matchable = right_matchable & F.col(k).isNotNull()
    rhs = right.filter(right_matchable).select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
            if c not in on
        ],
        *[F.col(k) for k in on],
        *[F.col(c).alias(out_name[c]) for c in payload],
        F.col(rts).alias(ts_out),
        F.col(rts).alias(ord_col),
        F.lit(0).alias(side),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias(tie_col),
    ).select(*lhs.columns)  # align union column order

    # null-ts LEFT rows sort FIRST in both directions: no right row
    # precedes them in the sweep, so they keep a null match instead of
    # grabbing whatever sorted nearby (nulls are unmatchable, not smallest)
    # tie_col asc_nulls_FIRST: among duplicate right (key, ts) rows the
    # LAST in sort order wins, so nulls-first makes every non-null
    # tiebreak beat a null one (a null must never outrank the largest
    # real value)
    ordering: list[Column] = (
        [F.col(ord_col).asc_nulls_first(), F.col(side).asc(), F.col(tie_col).asc_nulls_first()]
        if direction == "backward"
        else [F.col(ord_col).desc_nulls_first(), F.col(side).asc(), F.col(tie_col).asc_nulls_first()]
    )
    # the matched right row must be carried ATOMICALLY: a per-column
    # last(ignorenulls) would stitch column values from DIFFERENT right
    # rows whenever a payload field is null (row A's x with row B's y).
    # Pack payload + matched-ts into one struct — null exactly on left
    # rows — so last(ignorenulls) picks whole rows only.
    pack = "__asof_row"
    packed = lhs.unionByName(rhs).withColumn(
        pack,
        F.when(
            F.col(side) == 0,
            F.struct(*[F.col(out_name[c]) for c in payload], F.col(ts_out)),
        ),
    )

    part_cols: list[Column] = [F.col(k) for k in on]
    if hot_key_splits > 1:
        packed, extra_part = _timeline_split(
            packed,
            left=left,
            on=on,
            ts=ts,
            ts_out=ts_out,
            ord_col=ord_col,
            side=side,
            tie_col=tie_col,
            pack=pack,
            direction=direction,
            n_splits=int(hot_key_splits),
        )
        part_cols += extra_part

    w = (
        Window.partitionBy(*part_cols)
        .orderBy(*ordering)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = packed.select(
        *left_cols,
        F.col(side),
        F.col(ord_col),
        F.last(pack, ignorenulls=True).over(w).alias(pack),
    ).select(
        *left_cols,
        F.col(side),
        F.col(ord_col),
        *[F.col(f"{pack}.{out_name[c]}").alias(out_name[c]) for c in payload],
        F.col(f"{pack}.{ts_out}").alias(ts_out),
    )

    matched = carried.filter(F.col(side) == 1)
    if tolerance is not None:
        gap = F.abs(
            _seconds(F.col(ord_col), left.schema[ts].dataType)
            - _seconds(F.col(ts_out), right.schema[rts].dataType)
        )
        within = F.col(ts_out).isNotNull() & (gap <= F.lit(float(tolerance)))
        matched = matched.select(
            *left_cols,
            *[
                F.when(within, F.col(out_name[c])).alias(out_name[c])
                for c in payload
            ],
            F.when(within, F.col(ts_out)).alias(ts_out),
        )
    else:
        matched = matched.select(*left_cols, *[out_name[c] for c in payload], ts_out)
    return matched


def _timeline_split(
    packed: DataFrame,
    *,
    left: DataFrame,
    on: list[str],
    ts: str,
    ts_out: str,
    ord_col: str,
    side: str,
    tie_col: str,
    pack: str,
    direction: str,
    n_splits: int,
) -> tuple[DataFrame, list[Column]]:
    """Hot-key rewrite: segment every key's timeline at global left-ts
    quantiles and inject each (key, segment)'s carry-in as a synthetic
    right row, so the sweep can partition by (key, segment) without
    losing cross-segment matches. Returns (augmented frame, extra
    partition columns).

    Three bounded passes beyond the unsplit plan:
    1. approxQuantile over the left ordering column (sketch, one scan);
    2. right side reduced to ONE carry-out row per (key, segment) via
       ``max_by`` over (sec, tiebreak) — backward keeps the segment's
       last right row, forward (sec negated) its first; map-side
       combine makes the exchange O(keys x segments);
    3. a per-key window over that aggregate frame (+ the distinct
       (key, segment) pairs present on the left) chains each segment's
       carry-in from the NEAREST earlier (backward) / later (forward)
       segment that has right rows — exactly the row the unsplit sweep
       would be carrying at the segment boundary.

    Segment assignment is by ordering value, so a carry-in's sec is
    strictly below (backward; above for forward) everything in its
    target segment and sorts first in the sweep — tiebreak-irrelevant.
    Null-ts left rows go to the edge segment that receives no carry-in
    (0 for backward, last for forward), keeping them unmatchable.

    STRING ordering columns: segments cut on parsed-timestamp seconds
    while the in-segment sweep sorts lexicographically — consistent
    for ISO-formatted strings (lexicographic == chronological), the
    only string format the unsplit sweep orders meaningfully anyway;
    rows whose strings fail to parse land in segment 0 on both sides.
    """
    backward = direction == "backward"
    split_col = "__asof_split"
    ord_t = packed.schema[ord_col].dataType
    probs = [i / n_splits for i in range(1, n_splits)]
    sec_left = left.select(
        _seconds(F.col(ts), left.schema[ts].dataType).alias("__s")
    ).filter(F.col("__s").isNotNull())
    bounds = sorted(set(sec_left.approxQuantile("__s", probs, 0.001)))
    if not bounds:
        # empty / all-null / constant left ordering: nothing to split
        return packed.withColumn(split_col, F.lit(0)), [F.col(split_col)]

    sec = _seconds(F.col(ord_col), ord_t)
    seg: Column = F.lit(0)
    for b in bounds:
        seg = seg + F.when(sec >= F.lit(float(b)), 1).otherwise(0)
    default_seg = 0 if backward else len(bounds)
    packed = packed.withColumn(
        split_col,
        F.when(F.col(ord_col).isNull(), F.lit(default_seg)).otherwise(seg),
    )

    # (2) per-(key, segment) carry-out over right rows only
    sec_for_sort = F.col("__sec") if backward else -F.col("__sec")
    carry_out = (
        packed.filter(F.col(side) == 0)
        .withColumn("__sec", sec)
        .groupBy(*on, split_col)
        .agg(
            F.max_by(
                F.col(pack), F.struct(sec_for_sort.alias("s"), F.col(tie_col).alias("t"))
            ).alias("__carry")
        )
    )
    carry_t = carry_out.schema["__carry"].dataType

    # (3) chain: marks (key, segment)-pairs present on the LEFT at even
    # positions, carry-outs at odd positions offset toward the segments
    # they serve; last(ignorenulls) over the per-key ordered frame pulls
    # each mark's nearest donor segment. All inputs here are already
    # reduced to O(keys x segments) rows.
    marks = (
        packed.filter(F.col(side) == 1).select(*on, split_col).distinct()
    )
    pos_off = 1 if backward else -1
    chain = marks.select(
        *on,
        split_col,
        (F.col(split_col) * 2).alias("__pos"),
        F.lit(None).cast(carry_t).alias("__carry"),
    ).unionByName(
        carry_out.select(
            *on,
            split_col,
            (F.col(split_col) * 2 + pos_off).alias("__pos"),
            F.col("__carry"),
        )
    )
    wc = (
        Window.partitionBy(*[F.col(k) for k in on])
        .orderBy(F.col("__pos").asc() if backward else F.col("__pos").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry_in = (
        chain.select(
            *on,
            split_col,
            F.col("__pos"),
            F.last("__carry", ignorenulls=True).over(wc).alias("__carry"),
        )
        .filter((F.col("__pos") % 2 == 0) & F.col("__carry").isNotNull())
    )

    def _shape(c: str) -> Column:
        if c in on or c == split_col:
            return F.col(c)
        if c == pack:
            return F.col("__carry")
        if c == ord_col:
            return F.col(f"__carry.{ts_out}").cast(ord_t)
        if c == side:
            return F.lit(0)
        return F.lit(None).cast(packed.schema[c].dataType)

    synthetic = carry_in.select(*[_shape(c).alias(c) for c in packed.columns])
    return packed.unionByName(synthetic), [F.col(split_col)]
