"""Table catalog abstraction: Iceberg when available, parquet dirs otherwise.

The north rule targets Iceberg tables.  This sandbox ships no Iceberg
runtime jar, so the catalog degrades to a parquet-directory warehouse with
the same call surface; on a real cluster, constructing the session with

  spark.sql.catalog.ocrx = org.apache.iceberg.spark.SparkCatalog
  spark.sql.catalog.ocrx.type = hadoop
  spark.sql.catalog.ocrx.warehouse = <path>

flips ``iceberg_available()`` true and every read/write goes through the
table API (snapshot commits give the batch protocol in plans/resume.py its
transactional semantics for free: ``overwritePartitions`` per batch_id).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession, catalog: str = "ocrx") -> bool:
    try:
        return (
            spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None
        )
    except Exception:
        return False


@dataclass
class Catalog:
    spark: SparkSession
    warehouse: str
    catalog_name: str = "ocrx"

    @property
    def _iceberg(self) -> bool:
        return iceberg_available(self.spark, self.catalog_name)

    def _path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def read(self, table: str) -> DataFrame:
        if self._iceberg:
            return self.spark.read.table(f"{self.catalog_name}.{table}")
        return self.spark.read.parquet(self._path(table))

    def exists(self, table: str) -> bool:
        if self._iceberg:
            return self.spark.catalog.tableExists(f"{self.catalog_name}.{table}")
        return os.path.exists(os.path.join(self._path(table), "_SUCCESS"))

    def append(self, df: DataFrame, table: str) -> None:
        if self._iceberg:
            df.writeTo(f"{self.catalog_name}.{table}").append()
        else:
            df.write.mode("append").parquet(self._path(table))

    def overwrite_partition(self, df: DataFrame, table: str, partition_col: str) -> None:
        """Idempotent batch commit (plans/resume.py protocol)."""
        if self._iceberg:
            df.writeTo(f"{self.catalog_name}.{table}").overwritePartitions()
        else:
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(self._path(table))
            )
