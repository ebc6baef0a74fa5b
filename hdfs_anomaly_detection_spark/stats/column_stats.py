"""Per-column statistics in ONE hash-aggregate pass.

Capabilities absorbed from the reference: null counting
(``grafana/grafana_test_queries.sql:184-186``,
``cloud-deployment/spark_job.py:103``), COUNT DISTINCT → HLL at scale
(``grafana_test_queries.sql:198,331``), min/max/avg summary stats
(``grafana_test_queries.sql:167-176``), histogram buckets by rounded
value (``grafana_test_queries.sql:88-96,151-159``).

All expressions are Catalyst built-ins (count / sum-when / min / max /
approx_count_distinct(HLL++) / avg / stddev over length), so the whole
profile compiles to a single whole-stage-codegen'd aggregate; output is
a tall (column, stat, value) frame produced by a zero-shuffle unpivot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType


def _is_numeric(df: DataFrame, c: str) -> bool:
    return isinstance(df.schema[c].dataType, NumericType)


def _is_string(df: DataFrame, c: str) -> bool:
    return isinstance(df.schema[c].dataType, StringType)


def column_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    group_by: list[str] | None = None,
    hll_rsd: float = 0.05,
) -> DataFrame:
    """Tall stats frame: (group cols..., column, stat, value double).

    Stats per column: n_rows, n_null, null_rate, approx_distinct;
    numeric columns add min/max/avg/stddev; string columns add
    min_length/max_length/avg_length. One aggregation pass for ALL
    columns; ``group_by`` (e.g. ["part_id"]) yields per-partition stats.
    """
    columns = columns or [f.name for f in df.schema.fields]
    aggs = [F.count(F.lit(1)).alias("__n")]
    stats_per_col: dict[str, list[str]] = {}
    for c in columns:
        col = F.col(c)
        names = ["n_null", "approx_distinct"]
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).cast("double").alias(f"__{c}__n_null"),
            F.approx_count_distinct(c, rsd=hll_rsd).cast("double").alias(f"__{c}__approx_distinct"),
        ]
        if _is_numeric(df, c):
            names += ["min", "max", "avg", "stddev"]
            aggs += [
                F.min(col).cast("double").alias(f"__{c}__min"),
                F.max(col).cast("double").alias(f"__{c}__max"),
                F.avg(col).cast("double").alias(f"__{c}__avg"),
                F.stddev(col).cast("double").alias(f"__{c}__stddev"),
            ]
        elif _is_string(df, c):
            ln = F.length(col)
            names += ["min_length", "max_length", "avg_length"]
            aggs += [
                F.min(ln).cast("double").alias(f"__{c}__min_length"),
                F.max(ln).cast("double").alias(f"__{c}__max_length"),
                F.avg(ln).cast("double").alias(f"__{c}__avg_length"),
            ]
        stats_per_col[c] = names

    wide = df.groupBy(*(group_by or [])).agg(*aggs)

    # unpivot: one (column, stat, value) row per stat, plus derived null_rate
    pairs: list[str] = []
    for c, names in stats_per_col.items():
        for s in names:
            pairs += [f"'{c}'", f"'{s}'", f"`__{c}__{s}`"]
        pairs += [f"'{c}'", "'null_rate'", f"`__{c}__n_null` / nullif(`__n`, 0)"]
        pairs += [f"'{c}'", "'n_rows'", "cast(`__n` as double)"]
    n_slots = len(pairs) // 3
    stack = f"stack({n_slots}, {', '.join(pairs)}) as (column, stat, value)"
    return wide.selectExpr(*(group_by or []), stack)


def length_histogram(
    df: DataFrame, column: str, bin_width: int = 50, group_by: list[str] | None = None
) -> DataFrame:
    """(group cols..., bucket_lo, n) histogram of string lengths; fixed
    bin width so results are deterministic and oracle-comparable."""
    bucket = (F.floor(F.length(F.col(column)) / bin_width) * bin_width).alias("bucket_lo")
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(*(group_by or []), bucket)
        .agg(F.count(F.lit(1)).alias("n"))
    )
