"""Warehouse catalog: Iceberg when the runtime jar is present,
Parquet-directory fallback otherwise.

STATUS OF THE ICEBERG BRANCH: designed-for, NOT exercised — this image
ships no iceberg-spark-runtime jar and has no network to fetch one, so
every `self.iceberg` path below (snapshot reads, DELETE FROM,
writeTo appends) is written against the published Iceberg-Spark API but has
never run here. The tested, supported backend in this repo is the
parquet fallback; treat the Iceberg code as a deployment template to
be validated when a jar is available (drop it on the classpath and the
same Catalog calls switch over).

The pipeline only uses five verbs, all of which exist in both
backends with the same semantics:

- read(table)
- append(df, table)
- clear_partitions(table, column, values)  # empty a run's owned buckets
- overwrite_partitions(df, table, partition_cols)  # append them back
- table_exists(table)  # the topic-exists probe analog
  (reference pkg/utils/kafka.go:9-28)

A run's sink cells are replaced by one mechanism on both backends:
clear_partitions empties every cell of the buckets the run owns
(Iceberg ``DELETE FROM``, Parquet directory removal), then
overwrite_partitions appends the new rows into them (Iceberg
``writeTo(t).append()``, Parquet ``mode('append').partitionBy``).
A cell whose new output is empty therefore keeps no old rows, and no
session conf changes how other writers overwrite. Nothing else
rewrites a table: the warehouse is written only by append and
clear_partitions. Sink tables are
created on first write — the analog of auto topic creation
(kafka.go:30-56).

The reference's field-wise Apply (S5) is `merge_frames`, a pure
frame-to-frame merge; the `pipe_merge_upsert` contract query runs it.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_frames(existing: DataFrame, updates: DataFrame, keys: list[str],
                 order_col: str | None = None) -> DataFrame:
    """Field-wise merge of `updates` into `existing` (same schema):
    per key, a NON-NULL update field replaces the existing value and a
    NULL update field PRESERVES it; keys only in updates insert, keys
    only in existing survive untouched. This is the reference Apply's
    per-field merge contract (datasource.go:206-276), where a partial
    update object must not clobber sibling fields.

    `order_col`: when updates may carry several rows per key, the row
    with the highest order_col wins (latest-wins pre-dedup); without
    it the caller guarantees one row per key.

    Plan shape: one equi full-outer join on the keys (broadcast when
    the update side is small, AQE otherwise) + a coalesce projection —
    no UDFs, no collects."""
    if order_col is not None:
        from pyspark.sql import Window
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        updates = (updates.withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") == 1).drop("_rn"))
    value_cols = [c for c in existing.columns if c not in keys]
    joined = existing.alias("_e").join(updates.alias("_u"), on=keys, how="full_outer")
    return joined.select(
        *[F.col(k) for k in keys],
        *[F.coalesce(F.col(f"_u.{c}"), F.col(f"_e.{c}")).alias(c)
          for c in value_cols],
    )


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str, catalog_name: str = "local"):
        self.spark = spark
        self.warehouse = warehouse
        self.catalog_name = catalog_name
        self.iceberg = _iceberg_available(spark)
        if self.iceberg:
            spark.conf.set(f"spark.sql.catalog.{catalog_name}",
                           "org.apache.iceberg.spark.SparkCatalog")
            spark.conf.set(f"spark.sql.catalog.{catalog_name}.type", "hadoop")
            spark.conf.set(f"spark.sql.catalog.{catalog_name}.warehouse", warehouse)
        else:
            os.makedirs(warehouse, exist_ok=True)

    # -- paths ---------------------------------------------------------
    def _path(self, table: str) -> str:
        return os.path.join(self.warehouse, *table.split("."))

    def _ident(self, table: str) -> str:
        return f"{self.catalog_name}.{table}"

    # -- verbs ---------------------------------------------------------
    def table_exists(self, table: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(self._ident(table))
        p = self._path(table)
        # a partitioned table's root may hold only `name=value` dirs
        # (session.py turns the _SUCCESS marker off)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f.startswith(("part-", "_SUCCESS")) or "=" in f
            for f in os.listdir(p)
        )

    def read(self, table: str) -> DataFrame:
        if self.iceberg:
            return self.spark.read.format("iceberg").load(self._ident(table))
        return self.spark.read.parquet(self._path(table))

    def append(self, df: DataFrame, table: str, partition_cols: list[str] | None = None) -> None:
        if self.iceberg:
            writer = df.writeTo(self._ident(table))
            if not self.table_exists(table):
                if partition_cols:
                    from pyspark.sql import functions as F
                    writer = writer.partitionedBy(*[F.col(c) for c in partition_cols])
                writer.create()
            else:
                writer.append()
            return
        w = df.write.mode("append")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(self._path(table))

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_cols: list[str]) -> None:
        """Fill the cells the caller has just emptied with
        clear_partitions: a plain partitioned append, which creates the
        table on first write. Clear + append is the sink's one
        replacement mechanism and needs no session conf."""
        self.append(df, table, partition_cols)

    def clear_partitions(self, table: str, column: str, values: list[int]) -> None:
        """Delete every partition `column=v`, v in values, at whatever
        level of the table's partitioning it sits (for sinks.routed:
        every `sink_name=*/bucket=v` cell). A missing table is a no-op.
        On Iceberg this is one ``DELETE FROM t WHERE column IN (...)``
        (integer values only)."""
        if self.iceberg:
            if values and self.table_exists(table):
                self.spark.sql(f"DELETE FROM {self._ident(table)} WHERE {column} "
                               f"IN ({', '.join(str(int(v)) for v in values)})")
            return
        wanted = {f"{column}={v}" for v in values}
        for dirpath, dirnames, _ in os.walk(self._path(table)):
            for d in [d for d in dirnames if d.startswith(f"{column}=")]:
                dirnames.remove(d)  # never descend below the column's level
                if d in wanted:
                    shutil.rmtree(os.path.join(dirpath, d))

    def drop(self, table: str) -> None:
        if self.iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(table)}")
            return
        shutil.rmtree(self._path(table), ignore_errors=True)

