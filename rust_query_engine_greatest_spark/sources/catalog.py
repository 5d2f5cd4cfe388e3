"""Table catalog over the driver TESTDATA parquet layout.

Reference parity: `ListingTable` + `TableProvider`
(`core/src/datasource/listing/table.rs:683`, `catalog/src/table.rs:36`) —
in Spark this is `spark.read.parquet` with built-in projection/predicate
pushdown and partition discovery; nothing custom is needed (SURVEY §2.1).

Routing: which physical copy answers `load_table(sf_dir, name)` is
decided here and only here, from one map (abs sf_dir, table) → `Route`.
A route records the parquet path (the compacted copy once
`compact.activate` rewrote it), the ANALYZEd `stat_` catalog table over
that path (`stats.activate`) and the columnar cached copy
(`cache_tables`). `load_table` serves the cached copy first, then the
catalog table, then the path; a table with no route is read from
`{sf_dir}/{name}.parquet`. `reset` drops the routes of one directory or
of all.

Scale note: at 100 TB each logical table is a directory of many parquet
files (hive-partitioned by date or key); `load_table` takes any path
glob the same way. Filters and column pruning reach the scan via
Catalyst — verified in plans/explain.py assertions.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class Route:
    """Physical copy behind one (sf_dir, table)."""

    path: str  # parquet file or directory
    stat: str | None = None  # ANALYZEd catalog table over `path`
    mem: DataFrame | None = None  # cached copy; MemTable analog


_ROUTES: dict[tuple[str, str], Route] = {}


def route(sf_dir: str, name: str) -> Route | None:
    """The route registered for (sf_dir, table), if any."""
    return _ROUTES.get((os.path.abspath(sf_dir), name))


def register(sf_dir: str, name: str, **fields) -> Route:
    """Set `fields` (path, stat, mem) on the route for (sf_dir, table),
    creating it over the raw `{sf_dir}/{name}.parquet` if absent."""
    key = (os.path.abspath(sf_dir), name)
    r = _ROUTES.setdefault(key, Route(os.path.join(key[0], f"{name}.parquet")))
    for k, v in fields.items():
        setattr(r, k, v)
    return r


def reset(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop the routes of sf_dir (all directories when None) and
    unpersist their cached copies, so reads go back to the raw files.
    The CBO confs are session-wide: they are unset only once no stats
    route remains for any directory. Catalog tables are left in place
    (metadata only)."""
    from .stats import CBO_CONFS

    for key in [k for k in _ROUTES
                if sf_dir is None or k[0] == os.path.abspath(sf_dir)]:
        r = _ROUTES.pop(key)
        if r.mem is not None:
            r.mem.unpersist()
    if not any(r.stat for r in _ROUTES.values()):
        for conf in CBO_CONFS:
            try:
                spark.conf.unset(conf)
            except Exception:
                pass


def cache_tables(spark: SparkSession, sf_dir: str,
                 parallelism: int | None = None,
                 tables: tuple[str, ...] = TABLES) -> None:
    """Materialize every table into Spark's columnar in-memory cache —
    the reference's MemTable path (`tpch_mem` bench mode,
    benchmarks/bench.sh:73). Big tables are repartitioned up to
    `parallelism` first: a cached table inherits its scan's partition
    count, and a 1-row-group parquet file would otherwise pin every
    downstream stage to one task."""
    parallelism = parallelism or spark.sparkContext.defaultParallelism
    for name in tables:
        if getattr(route(sf_dir, name), "mem", None) is not None:
            continue
        df = load_table(spark, sf_dir, name)
        if df.rdd.getNumPartitions() < parallelism and name in (
                "lineitem", "orders", "events", "customer", "part"):
            df = df.repartition(parallelism)
        df = df.cache()
        df.count()  # materialize now so queries measure compute, not load
        register(sf_dir, name, mem=df)


def uncache_tables(sf_dir: str | None = None) -> None:
    for (d, _), r in _ROUTES.items():
        if r.mem is not None and (sf_dir is None or d == os.path.abspath(sf_dir)):
            r.mem.unpersist()
            r.mem = None


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make the catalog correct in ANY caller-provided SparkSession (the
    driver passes its own, without session.py's confs): TIMESTAMP(NANOS)
    parquet (events.ts) is unreadable unless nanosAsLong is on
    (PARQUET_TYPE_ILLEGAL otherwise), and the ns→µs + oracle-hash
    contract assumes a UTC session. Both are runtime-settable; no-ops
    when session.py already configured them."""
    try:
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if spark.conf.get("spark.sql.session.timeZone") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # never block a read over a conf we can't touch


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Path may be a single file or a partitioned dir.

    Timestamp policy (SURVEY §1.2): the reference is nanosecond-native,
    Spark is microsecond-native. When `events.ts` arrives as parquet
    TIMESTAMP(NANOS) read back as raw int64 (legacy.parquet.nanosAsLong),
    this layer truncates ts_µs = ts_ns DIV 1000 — matching DuckDB's
    implicit behavior on the oracle side. When the generator writes
    timestamp[us] directly (current TESTDATA), no conversion is needed;
    the check is on the scanned type, not an assumption about the file
    (a compacted copy is written post-conversion, so it passes as is).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    _ensure_session_confs(spark)
    r = route(sf_dir, name)
    if r is None:
        path = os.path.join(sf_dir, f"{name}.parquet")
    elif r.mem is not None:
        return r.mem
    elif r.stat is not None:
        # stats-backed catalog table: same files, plus row-count/NDV
        # statistics so CBO join reorder & estimation apply (stats.py)
        return spark.table(r.stat)
    else:
        path = r.path
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Session tz is pinned to UTC, so NTZ→TIMESTAMP keeps the
            # wall-clock value; downstream code (unix_micros, watermarks)
            # expects the instant type.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every TESTDATA table as a temp view (reference analog:
    `CREATE EXTERNAL TABLE`, `sql/src/parser.rs:182`)."""
    out = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
