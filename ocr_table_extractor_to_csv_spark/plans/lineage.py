"""Per-partition lineage manifests (north_rule requirement).

The kernel stamps every output row with (partition_id, task_attempt) via
TaskContext; the manifest is then a plain distributed aggregation over the
extracted table — no driver-side loops, no side channels, and it holds at
any scale because it is just a groupBy:

  manifests(pass, partition_id, n_urls, n_ok, n_failed, total_html_bytes,
            total_csv_bytes, failed_urls[<=20 sample], max_task_attempt)

A committed job frame carries ``pass`` (small / giant): each pass numbers
its partitions from 0, so the manifest is keyed by (pass, partition_id),
one row per task that wrote output.  A frame without ``pass`` (one
extraction pass, e.g. a streaming micro-batch) gets a null ``pass``, so
every manifest has the same columns.  Manifest directories appended to
before ``pass`` existed hold files without it: read them with
``spark.read.option("mergeSchema", "true").parquet(...)`` (old rows then
read ``pass`` as null).

Invariant checked by tests: sum(n_urls) over manifests == count(pages in).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_manifests(extracted: DataFrame, failed_sample: int = 20) -> DataFrame:
    if "pass" not in extracted.columns:
        extracted = extracted.withColumn("pass", F.lit(None).cast("string"))
    return extracted.groupBy("pass", "partition_id").agg(
        F.count("*").alias("n_urls"),
        F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_failed"),
        F.sum("html_bytes").alias("total_html_bytes"),
        F.sum(F.octet_length("csv")).alias("total_csv_bytes"),
        F.slice(
            F.collect_list(F.when(F.col("error").isNotNull(), F.col("url"))),
            1,
            failed_sample,
        ).alias("failed_urls"),
        F.max("task_attempt").alias("max_task_attempt"),
    )
