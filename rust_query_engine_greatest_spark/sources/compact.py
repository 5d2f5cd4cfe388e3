"""Table compaction — scan-layout optimization (OPTIMIZE / bin-packing).

The driver TESTDATA parquet files are written as ONE row group per
table; a parquet row group is the unit of scan parallelism, so however
Spark splits the file, exactly one task does all the IO+decode for the
table (the other splits contain no row-group midpoint and return
empty). That layout is an artifact of the small-SF generator — at
100 TB a table is thousands of files × many row groups and scans
parallelize naturally.

This module restores the at-scale shape locally, the same way lakehouse
compaction (Delta/Iceberg OPTIMIZE, and the reference's own bench
harness, which regenerates its parquet with controlled row-group sizes
— `benchmarks/bench.sh` data step) does: rewrite each table once into
N files, range-clustered on its natural time/key column so row-group
min/max stats prune date-predicate scans (the reference's
row-group/page pruning analog, `core/src/datasource/physical_plan/
parquet/row_group_filter.rs`).

The rewrite happens once per sf_dir, is cached under the system temp
dir (never inside the source checkout), and is activated explicitly
(bench.py) — the correctness gate keeps reading the driver's original
files.
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import SparkSession

from . import catalog

# Local[32] tuning, measured (interleaved A/B over the bench suite at
# sf0.1): 150k rows/file beat 20k and 75k — per-task scheduling overhead
# dominates below ~150k rows on local[32], while a single row group
# serializes the whole scan. On a real cluster, compaction targets
# ~128 MB row groups and the file count follows from data volume, not
# core count.
ROWS_PER_FILE = 150_000
MAX_FILES = 64

# Natural clustering column per table → row-group min/max stats line up
# with the workload's range predicates (shipdate/orderdate/ts filters).
CLUSTER_COL = {
    "lineitem": "l_shipdate",
    "orders": "o_orderdate",
    "events": "ts",
}

def _dest_root(sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "data"
    return os.path.join(tempfile.gettempdir(), "spark-graft-warehouse",
                        "compacted", tag)


def compact_tables(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = catalog.TABLES) -> tuple[str, float]:
    """Rewrite each table into a multi-file, range-clustered parquet
    directory (idempotent: skips tables already compacted). Returns
    (dest_root, seconds_spent)."""
    dest = os.path.abspath(_dest_root(sf_dir))
    t0 = time.perf_counter()
    for name in tables:
        dst = os.path.join(dest, f"{name}.parquet")
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        df = catalog.load_table(spark, sf_dir, name)
        nfiles = int(max(1, min(MAX_FILES, df.count() // ROWS_PER_FILE)))
        key = CLUSTER_COL.get(name)
        if key and nfiles > 1:
            df = df.repartitionByRange(nfiles, key).sortWithinPartitions(key)
        else:
            df = df.repartition(nfiles)
        df.write.mode("overwrite").parquet(dst)
    return dest, round(time.perf_counter() - t0, 2)


def activate(spark: SparkSession, sf_dir: str,
             tables: tuple[str, ...] = catalog.TABLES) -> float:
    """Compact `tables` of sf_dir (if not already) and route
    catalog.load_table for each of them to its compacted copy. Returns
    compaction seconds (0.0 when cached from a previous run)."""
    dest, secs = compact_tables(spark, sf_dir, tables=tables)
    for name in tables:
        catalog.register(sf_dir, name, path=os.path.join(dest, f"{name}.parquet"))
    return secs
