"""Table-layer abstraction: Iceberg when the runtime jar is on the
classpath, partitioned Parquet otherwise (SURVEY §7.4 risk 4).

The engine targets Iceberg tables (north_rule input), but this sandbox
has no ``iceberg-spark-runtime`` jar, so both backends implement the
same four operations and the rest of the engine is backend-agnostic:

* ``write(df, name, partition_by)`` — create/replace a table
* ``append(df, name)``
* ``read(name)``
* ``snapshot(name)`` — lineage token: Iceberg snapshot id, or an
  md5 over the parquet file list

On Iceberg the manifest's resume fingerprint becomes the snapshot id
and partition pruning comes from the table's partition spec
(``bucket(N, conv_id)`` recommended — matches the engine's data-
attribute part_id).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableCatalog:
    def __init__(self, spark: SparkSession, warehouse: str, catalog: str = "local") -> None:
        self.spark = spark
        self.warehouse = warehouse.rstrip("/")
        self.catalog = catalog
        self.use_iceberg = iceberg_available(spark)
        if self.use_iceberg:
            spark.conf.set(f"spark.sql.catalog.{catalog}", "org.apache.iceberg.spark.SparkCatalog")
            spark.conf.set(f"spark.sql.catalog.{catalog}.type", "hadoop")
            spark.conf.set(f"spark.sql.catalog.{catalog}.warehouse", self.warehouse)

    def _path(self, name: str) -> str:
        return f"{self.warehouse}/{name}"

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        if self.use_iceberg:
            w = df.writeTo(f"{self.catalog}.{name}").using("iceberg")
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self._path(name))

    def append(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        """``partition_by`` matters only for the parquet backend, which
        has no table spec to consult: appends into a partitioned layout
        MUST restate it or the new files land unpartitioned at the table
        root (silently skewing later partition-pruned reads). Iceberg
        ignores it — the table's own spec governs appends."""
        if self.use_iceberg:
            df.writeTo(f"{self.catalog}.{name}").append()
        else:
            w = df.write.mode("append")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self._path(name))

    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(f"{self.catalog}.{name}")
        return self.spark.read.parquet(self._path(name))

    def snapshot(self, name: str) -> str:
        """Lineage token for the manifest's input fingerprint."""
        if self.use_iceberg:
            row = (
                self.spark.sql(
                    f"SELECT snapshot_id FROM {self.catalog}.{name}.snapshots "
                    "ORDER BY committed_at DESC LIMIT 1"
                ).first()
            )
            return str(row[0]) if row else "empty"
        files = sorted(self.read(name).inputFiles())
        return hashlib.md5("\n".join(files).encode()).hexdigest()
