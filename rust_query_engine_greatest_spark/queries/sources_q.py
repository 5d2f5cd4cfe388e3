"""Source/sink round-trips as oracle-checked registry entries
(SURVEY §2.1): each query WRITES a table through a sink format, READS
it back through the matching scan, and aggregates — the oracle runs the
same aggregate on the original parquet, so a format that loses rows,
types, or values hash-mismatches.

Round-trip staging goes under the system temp dir (never the source
checkout or the read-only TESTDATA)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import readers, writers
from ..sources.catalog import load_table
from .base import dec2, dsum, register

_STAGE = os.path.join(tempfile.gettempdir(), "spark-graft-warehouse",
                      "roundtrip")

# the shared aggregate both sides compute (order-insensitive, decimal-exact)
_ORACLE_AGG = """
    SELECT c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
    FROM customer GROUP BY c_mktsegment
"""


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), dsum(dec2("c_acctbal"), "bal")
    )


@register("sink_parquet_roundtrip", _ORACLE_AGG, tags=("sources", "sink"))
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSinkExec + ParquetExec (insert.rs:50 / parquet/mod.rs:263):
    write_parquet → scan → aggregate equals the original table."""
    dst = os.path.join(_STAGE, "customer_parquet")
    writers.write_parquet(load_table(spark, sf_dir, "customer"), dst)
    return _agg(spark.read.parquet(dst))


@register("source_csv_roundtrip", _ORACLE_AGG, tags=("sources", "csv"))
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CsvExec (csv.rs:74): write_csv (header) → read_csv with explicit
    schema → aggregate. Exercises delimiter/header/typed-read."""
    dst = os.path.join(_STAGE, "customer_csv")
    cust = load_table(spark, sf_dir, "customer")
    writers.write_csv(cust, dst)
    back = readers.read_csv(spark, dst, schema=cust.schema, header=True)
    return _agg(back)


@register("source_ndjson_roundtrip", _ORACLE_AGG, tags=("sources", "json"))
def source_ndjson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NdJsonExec (json.rs:53): write_ndjson → read_ndjson (schema
    inference) → aggregate."""
    dst = os.path.join(_STAGE, "customer_ndjson")
    cust = load_table(spark, sf_dir, "customer")
    writers.write_ndjson(cust, dst)
    back = readers.read_ndjson(spark, dst).select(*cust.columns)
    return _agg(back)


@register("source_arrow_roundtrip", _ORACLE_AGG, tags=("sources", "arrow"))
def source_arrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArrowExec (arrow_file.rs:50): distributed Arrow-IPC write
    (per-partition files, no driver hop) → mapInArrow scan → aggregate.
    The reference's native columnar interchange format, round-tripped
    through Spark's Arrow boundary."""
    dst = os.path.join(_STAGE, "customer_arrow")
    cust = load_table(spark, sf_dir, "customer")
    writers.write_arrow_ipc(cust, dst)
    back = readers.read_arrow_ipc(spark, dst, cust.schema)
    return _agg(back)


@register(
    "source_memory_table",
    """
    SELECT seg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS tot
    FROM (VALUES ('A', 10), ('A', 32), ('B', 7)) AS t(seg, v)
    GROUP BY seg
    """,
    tags=("sources", "memory"),
)
def source_memory_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MemoryExec/MemTable (memory.rs:44): createDataFrame from driver
    rows → distributed aggregation."""
    df = spark.createDataFrame([("A", 10), ("A", 32), ("B", 7)], "seg string, v long")
    return df.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("tot")
    )


@register("source_avro_roundtrip", _ORACLE_AGG, tags=("sources", "avro"))
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AvroExec (avro.rs:38) via the pure-Python fallback path (no
    spark-avro jar in this container): per-partition executor-side
    container encode (deflate) → binaryFile + mapInPandas decode →
    aggregate equals the source table. Flat record schema with nullable
    primitive unions — the spec subset avro_fallback.py implements."""
    import shutil

    from ..sources import avro_fallback

    dst = os.path.join(_STAGE, "customer_avro")
    cust = load_table(spark, sf_dir, "customer")
    shutil.rmtree(dst, ignore_errors=True)
    n_files = avro_fallback.write_avro_fallback(cust, dst)
    assert n_files >= 1
    back = readers.read_avro(spark, dst).select(*cust.columns)
    return _agg(back)


@register("source_path_query", _ORACLE_AGG, tags=("sources", "dynamic"))
def source_path_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Url-table / dynamic-file scan (enable_url_table,
    core/src/datasource/dynamic_file.rs; sqllogictest dynamic_file.slt):
    write customer as a hive-partitioned csv directory (partitioned by
    c_mktsegment), then query the directory PATH directly via
    read_auto — format inferred from the data-file extension, partition
    column recovered by native partition discovery."""
    dst = os.path.join(_STAGE, "customer_pathq")
    cust = load_table(spark, sf_dir, "customer")
    (cust.write.mode("overwrite").partitionBy("c_mktsegment")
         .option("header", True).csv(dst))
    back = readers.read_auto(spark, dst)
    return _agg(back)


_OBJSTORE_ORACLE = """
    SELECT c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
    FROM customer
    WHERE c_acctbal > 0
    GROUP BY c_mktsegment
"""


@register("source_object_store_scan", _OBJSTORE_ORACLE, tags=("sources", "object_store"))
def source_object_store_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-store scan (datafusion-cli/src/object_storage.rs +
    object_store crate): the Arrow-native URI scan path —
    FileSystem.from_uri list, footer-only schema, executor-side
    mapInArrow batch streaming with column pruning — over the same
    customer table via its file:// URI (the scheme-generic code path
    s3://, gs:// take in deployment)."""
    from ..sources.object_store import object_store_scan

    url = "file://" + os.path.abspath(os.path.join(sf_dir, "customer.parquet"))
    df = object_store_scan(
        spark, url, columns=["c_mktsegment", "c_acctbal"]
    )
    return _agg(df.filter(F.col("c_acctbal") > 0))


_EVOLUTION_ORACLE = """
    SELECT COUNT(*) AS n_rows,
           COUNT(n_regionkey) AS n_with_region,
           CAST(SUM(n_regionkey) AS BIGINT) AS region_sum
    FROM (SELECT n_nationkey, n_name, NULL AS n_regionkey FROM nation
          UNION ALL
          SELECT n_nationkey, n_name, n_regionkey FROM nation)
"""


@register("source_schema_evolution", _EVOLUTION_ORACLE, tags=("sources", "parquet"))
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution (schema_evolution.slt /
    ListingTable-with-schema-merge): two generations of files — one
    written before a column existed, one after — scanned as ONE table
    via mergeSchema; old-generation rows surface NULL for the added
    column. The aggregate (total, non-null count, sum over the evolved
    column) hash-matches an oracle that reconstructs the union."""
    dst = os.path.join(_STAGE, "nation_evolved")
    nation = load_table(spark, sf_dir, "nation")
    writers.write_parquet(
        nation.select("n_nationkey", "n_name"), os.path.join(dst, "gen=0")
    )
    writers.write_parquet(
        nation.select("n_nationkey", "n_name", "n_regionkey"),
        os.path.join(dst, "gen=1"),
    )
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(dst, "gen=0"), os.path.join(dst, "gen=1")
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_regionkey").alias("n_with_region"),
        F.sum("n_regionkey").alias("region_sum"),
    )


_PARAMS_ORACLE = """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
"""


@register("source_prepared_params", _PARAMS_ORACLE, tags=("sources", "sql"))
def source_prepared_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (prepare.slt / PREPARE-EXECUTE placeholders):
    the same statement template bound with named parameters via
    spark.sql(..., args=...) — Spark's injection-safe equivalent of the
    reference's prepared statements; literals arrive as typed
    parameters, not string-spliced SQL."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders
        WHERE o_totalprice > :minp AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"minp": 150000.0, "status": "F"},
    )
