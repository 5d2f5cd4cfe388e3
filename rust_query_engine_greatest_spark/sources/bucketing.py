"""Bucketed tables — co-located joins and aggregations without a
shuffle.

Reference parity note: the reference's `RepartitionExec` hash exchange
(physical-plan/src/repartition/mod.rs:401) re-clusters data *per
query*. At 100 TB the winning move is to pay that clustering once at
write time: Spark bucketing (`DataFrameWriter.bucketBy`) persists the
hash partitioning in the table layout + catalog metadata, so every
later equi-join or aggregation on the bucket key satisfies
ClusteredDistribution straight off the scan — `EnsureRequirements`
inserts no Exchange (the fact-to-fact join this targets is exactly the
one too big to broadcast).

Bucket-count sizing at scale: buckets ≈ total_size / target_partition
(e.g. 100 TB / 256 MB ≈ 400k is too many files per write — in practice
cap by write parallelism and accept 512 MB-1 GB buckets, or compose
with partition columns so each date-partition holds the bucket set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist df as a bucketed (optionally sort-bucketed) catalog
    table. Sorted buckets additionally let sort-merge joins skip the
    per-task Sort, not just the Exchange.

    A previous SESSION's write can leave the warehouse directory behind
    while the in-memory catalog forgets the table — saveAsTable then
    fails with LOCATION_ALREADY_EXISTS even in overwrite mode (the
    bucket spec lives only in the catalog, so the bare files can't be
    adopted); clear the stale location first."""
    import os
    import shutil

    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        wh = spark.conf.get("spark.sql.warehouse.dir",
                            "spark-warehouse").removeprefix("file:")
        shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two catalog tables bucketed on the join key. With matching
    bucket counts this plans as an exchange-free sort-merge join —
    asserted in tests/test_sources.py."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)
