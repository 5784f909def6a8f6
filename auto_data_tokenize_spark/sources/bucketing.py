"""Bucketed corpus tables — shuffle-free co-located joins.

The dedup/similarity stack joins candidate pairs back to documents by
id repeatedly (verify, cluster, gate read-back). At 100 TB those are
the recurring shuffles; Spark's native bucketing removes them: a table
written with ``bucketBy(n, key)`` records its hash-partitioning in the
catalog, and a join of two tables bucketed on the same key with the
same bucket count needs NO Exchange on either side (and no sort when
``sortBy`` matches). This module is the thin, explicit wrapper the
pipelines use so the technique is a first-class, tested capability
rather than a deployment footnote.

Notes:
- Tables are EXTERNAL (explicit ``path``): data lives where the caller
  says; only metadata goes to the session catalog (in-memory catalog
  works — no Hive metastore needed).
- Bucket count is a real tuning decision: one bucket ≈ one file per
  writing task per bucket; pick so bucket files land in the
  100 MB-1 GB range at production volume, and keep it IDENTICAL across
  tables that join (mismatched counts re-shuffle one side).
- Spark only exploits bucketing when ``spark.sql.sources.bucketing.enabled``
  (default true) and the join keys equal the bucket keys exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    buckets: int = 32,
    sort: bool = True,
) -> DataFrame:
    """Write ``df`` as an external parquet table bucketed (and by
    default sorted) on ``key``; returns the catalog-backed DataFrame
    whose scans carry the bucketing metadata."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, key)
    )
    if sort:
        writer = writer.sortBy(key)
    writer.format("parquet").saveAsTable(table)
    return spark.table(table)
