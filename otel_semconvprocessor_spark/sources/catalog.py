"""Sink-table catalog: the Iceberg-shaped write surface.

The north_star routes the normalized stream into "per-sink Iceberg tables".
This module gives every writer in the repo ONE interface with Iceberg
``DataFrameWriterV2`` verbs, so swapping the sandbox's partitioned-parquet
directories for real Iceberg tables is a catalog-construction change, not a
pipeline change:

  * ``IcebergCatalog`` — the production implementation: genuine
    ``df.writeTo("<catalog>.<ns>.<table>")`` V2 calls with
    ``partitionedBy(days(warc_ts), lang)`` hidden partitioning.  The VERBS
    are engine-verified in-sandbox against a real V2 TableCatalog — the
    Derby-backed JDBCTableCatalog that ships inside pyspark's jars
    (tests/test_catalog.py::test_iceberg_catalog_verbs_against_real_v2_catalog
    runs create_or_replace / append / read through the genuine CatalogManager
    path).  Only the ``days()`` hidden-partition transform still requires the
    iceberg-spark-runtime jar (JDBC tables are unpartitioned); that remains a
    first-use-on-cluster smoke.
  * ``ParquetDirCatalog`` — this sandbox: one directory per table,
    identity-partitioned subdirs (``warc_day`` standing in for
    ``days(warc_ts)``).  Semantics matched to the V2 verbs: createOrReplace
    = overwrite the tree, append = append files, overwritePartitions =
    dynamic partition overwrite.

``ParquetDirCatalog`` runs the explicit repartition-before-write (see
operators/route.py) so file counts stay O(partitions), not O(tasks x
partitions).  ``IcebergCatalog`` passes the frame to ``writeTo`` unchanged:
the clustering is the table's own write distribution
(``write.distribution-mode``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["SinkCatalog", "ParquetDirCatalog", "IcebergCatalog"]


class SinkCatalog:
    """DataFrameWriterV2-shaped sink interface (create_or_replace / append /
    overwrite_partitions / read)."""

    def create_or_replace(self, df: DataFrame, table: str, partition_cols: list[str]) -> None:
        raise NotImplementedError

    def append(self, df: DataFrame, table: str, partition_cols: list[str]) -> None:
        raise NotImplementedError

    def overwrite_partitions(self, df: DataFrame, table: str, partition_cols: list[str]) -> None:
        raise NotImplementedError

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        raise NotImplementedError


def _spread(df: DataFrame, partition_cols: list[str], files_per_partition: int, salt_source: str) -> DataFrame:
    """The load-bearing repartition before a partitioned write (route.py):
    O(combos x files_per_partition) files instead of O(tasks x combos)."""
    cols = [F.col(c) for c in partition_cols]
    if salt_source in df.columns and files_per_partition >= 1:
        cols.append(F.pmod(F.xxhash64(F.col(salt_source)), F.lit(max(1, files_per_partition))))
    return df.repartition(*cols) if cols else df


@dataclass
class ParquetDirCatalog(SinkCatalog):
    """table -> ``{base_path}/{table}`` partitioned-parquet directory."""

    base_path: str
    files_per_partition: int = 1
    salt_source: str = "url"

    def _path(self, table: str) -> str:
        return f"{self.base_path}/{table}"

    def _write(self, df: DataFrame, table: str, partition_cols: list[str], mode: str) -> None:
        out = _spread(df, partition_cols, self.files_per_partition, self.salt_source)
        w = out.write.mode(mode)
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(self._path(table))

    def create_or_replace(self, df, table, partition_cols):
        self._write(df, table, partition_cols, "overwrite")

    def append(self, df, table, partition_cols):
        self._write(df, table, partition_cols, "append")

    def overwrite_partitions(self, df, table, partition_cols):
        # dynamic partition overwrite: replace only the partitions present in df
        spark = df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            self._write(df, table, partition_cols, "overwrite")
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def read(self, spark, table):
        return spark.read.parquet(self._path(table))


@dataclass
class IcebergCatalog(SinkCatalog):
    """Production implementation: real DataFrameWriterV2 against an Iceberg
    (or any V2) catalog.  ``partition_cols`` may name plain columns or the
    special ``days(<ts_col>)`` transform."""

    catalog: str = "local"
    namespace: str = "sinks"

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    @staticmethod
    def _transforms(partition_cols: list[str]):
        from pyspark.sql.functions import partitioning

        out = []
        for c in partition_cols:
            if c.startswith("days(") and c.endswith(")"):
                out.append(partitioning.days(F.col(c[5:-1])))
            else:
                out.append(F.col(c))
        return out

    def _writer(self, df: DataFrame, table: str):
        return df.writeTo(self._ident(table))

    def create_or_replace(self, df, table, partition_cols):
        t = self._transforms(partition_cols)
        w = self._writer(df, table)
        if t:
            w = w.partitionedBy(t[0], *t[1:])
        w.createOrReplace()

    def append(self, df, table, partition_cols):
        self._writer(df, table).append()

    def overwrite_partitions(self, df, table, partition_cols):
        self._writer(df, table).overwritePartitions()

    def read(self, spark, table):
        return spark.table(self._ident(table))
