"""Bucketed warehouse tables for shuffle-free co-located joins.

A join between two tables bucketed by the same key into the same bucket
count needs NO shuffle: each task reads matching buckets from both sides.
At 100 TB this converts the orders⋈lineitem fact-fact join — the dominant
shuffle in the TPC-H-shaped plans — into a scan-side merge, amortizing one
write-time shuffle across every subsequent join on that key.

Spark's bucketing requires ``saveAsTable`` (bucket metadata lives in the
catalog); the table data lives under the session's scratch root
(scratch.py), written once per (application, table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import scratch


def ensure_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_by: str,
    num_buckets: int = 8,
    sort_by: str | None = None,
    partition_by: str | None = None,
) -> str:
    """Idempotent EXTERNAL bucketed table: written once per
    (application, table) under the scratch root, skipped on every later
    call in the same session (catalog entry + build stamp both present —
    tests drop tables while the stamp remains). This is the ingest-time
    half of the bucketed-join bargain: one write-time shuffle, then
    every subsequent join or aggregation on ``bucket_by`` runs
    exchange-free.

    ``partition_by`` composes BOTH ingest-time layout levers — hive
    partitioning (directory per value → partition pruning on
    time-range filters) AND bucketing — the layout a production 100 TB
    fact table uses: partition by the time column queries range-filter
    on, bucket by the join key queries co-locate on.

    The pre-write ``repartition(num_buckets, bucket_by)`` uses the same
    murmur3 ``pmod`` placement as the bucket spec, so each task holds
    exactly one bucket and each (partition dir, bucket) lands in ONE
    file — the layout Spark requires before it will trust ``sortBy``
    metadata to elide the join-side sort."""

    def write(path: str) -> None:
        writer = (
            df.repartition(num_buckets, F.col(bucket_by))
            .write.mode("overwrite")
            .option("path", path)
        )
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer = writer.bucketBy(num_buckets, bucket_by)
        if sort_by:
            writer = writer.sortBy(sort_by)
        writer.saveAsTable(table)

    scratch.build_once(
        scratch.subdir(spark, "warehouse", table), write,
        reuse=spark.catalog.tableExists(table),
    )
    return table


def ensure_partitioned(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    partition_by: str,
) -> str:
    """Idempotent hive-style partitioned parquet dataset under the
    scratch root keyed by (application, name): one directory per
    ``partition_by`` value, written once per session. The read-side
    payoff is PARTITION PRUNING — a filter on the partition column
    becomes a directory listing, not a data scan (the second of the
    three storage-layout levers next to bucketing and Z-ordering)."""
    return scratch.build_once(
        scratch.subdir(spark, "warehouse", name),
        lambda path: df.write.mode("overwrite")
        .partitionBy(partition_by)
        .parquet(path),
    )
