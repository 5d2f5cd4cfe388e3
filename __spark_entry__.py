"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``rust_query_engine_greatest_spark/``; this file
just adapts the package's query registry to the driver's interface.

Ordering: the driver checks a bounded prefix of ``queries()`` per
round (50 slots in r01-r05), so the dict is ordered to maximize fresh
hard signal. The order is computed DYNAMICALLY from the driver's own
CORRECTNESS_r*.json files at import time (r3 and r4 both lost slots to
a hand-maintained ordering going stale):

1. entries whose LATEST driver row is non-green (presumed fixed since;
   excludes ``err: no_oracle`` — that marks a by-design rows-only
   check, e.g. agg_approx's cross-engine sketch),
2. entries with no driver row in any round,
3. green / no_oracle entries, stalest round first (re-verification
   rotates through the back catalog).

With no CORRECTNESS file readable (fresh checkout) every entry falls in
group 2, so the order is the never-checked priority order alone.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from rust_query_engine_greatest_spark.queries import REGISTRY


def _driver_rows() -> dict[str, tuple[int, bool, str | None]]:
    """name -> (latest round with a row, green?, err) parsed from the
    driver's CORRECTNESS_r*.json files; {} when none are readable.
    Green = rows+schema+hash match with a null err."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.abspath(__file__))
    rows: dict[str, tuple[int, bool, str | None]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, v in data.items():
            if not isinstance(v, dict):
                continue
            green = bool(
                v.get("rows_match") and v.get("schema_match")
                and v.get("hash_match")
            ) and not v.get("err")
            prev = rows.get(name)
            if prev is None or rnd >= prev[0]:
                rows[name] = (rnd, green, v.get("err"))
    return rows


def _ordered_names() -> list[str]:
    rows = _driver_rows()

    def _rows_only_by_design(n: str) -> bool:
        # a latest-round no_oracle row is only "done" while the registry
        # entry still HAS no oracle; once an oracle lands (r6:
        # multimodal_features) the entry needs a fresh driver row
        return (rows[n][2] == "no_oracle"
                and not getattr(REGISTRY[n], "oracle", None))

    redo = [n for n in REGISTRY
            if n in rows and not rows[n][1] and not _rows_only_by_design(n)]
    never = [n for n in REGISTRY if n not in rows]
    # Within the never-checked group: subquery decorrelation first,
    # then sources (both named by the r4 verdict's priority order),
    # the h2o/cb harness tail last (the documented acceptable
    # spillover) — stable otherwise.
    never.sort(key=lambda n: 0 if n.startswith("subq_")
               else 1 if n.startswith("source_")
               else 3 if n.startswith(("cb_", "h2o_")) else 2)
    done = [n for n in REGISTRY
            if n in rows and (rows[n][1] or _rows_only_by_design(n))]
    done.sort(key=lambda n: rows[n][0])  # stalest first (stable)
    return redo + never + done


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001."""
    return REGISTRY["tpch_q1"].build(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator/query from SURVEY.md §2."""
    return {name: REGISTRY[name].build for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL mirror for each query (omitted entries →
    rows-only check for non-SQL-expressible ops)."""
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
