"""The reference's Python entry point, re-expressed: `run_greatest`.

Reference: `src/lib.rs:56-406` — PyO3 `greatest.run_greatest(columns)`
takes a list of equal-length Python lists, infers a type per column
(`lib.rs:12-28`), resolves a common wider type (`lib.rs:30-54`), builds
Arrow arrays, runs the `greatest_inner` kernel
(`functions-nested/src/greatest.rs:150`), and returns plain Python
values. Here the kernel IS `F.greatest` (the function the reference
proves itself equal to, `tests/greatest_test.py:29-90`); this wrapper
reproduces the list-in/list-out surface so a reference user can switch
without code changes.

Contract mirrored (§1.3 of SURVEY.md):
- >= 2 columns required, error otherwise (Spark's own arity message —
  the text the reference matches against, greatest_test.py:378).
- Per-row max skipping NULLs; all-NULL row -> None.
- NaN greater than any number (Spark semantics).
- boolean+numeric -> int64; int+float -> float64; date+timestamp ->
  timestamp; incompatible (e.g. int vs str) -> plan-time
  "data type mismatch"-class error, exactly as Spark raises it.
"""

from __future__ import annotations

import datetime

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _infer_column_type(values: list) -> T.DataType:
    """Per-column inference mirroring lib.rs:12-28: examine the Python
    values; booleans fold into int64 when mixed with numerics, floats
    dominate ints, datetime dominates date."""
    has = {bool: False, int: False, float: False, str: False,
           datetime.datetime: False, datetime.date: False}
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):  # bool is an int subclass — check first
            has[bool] = True
        elif isinstance(v, int):
            has[int] = True
        elif isinstance(v, float):
            has[float] = True
        elif isinstance(v, str):
            has[str] = True
        elif isinstance(v, datetime.datetime):
            has[datetime.datetime] = True
        elif isinstance(v, datetime.date):
            has[datetime.date] = True
        else:
            raise TypeError(f"unsupported value type: {type(v).__name__}")
    if has[str]:
        if has[int] or has[float] or has[bool] or has[datetime.date] or has[datetime.datetime]:
            raise TypeError("mixed string and non-string values in one column")
        return T.StringType()
    if has[datetime.datetime]:
        return T.TimestampType()
    if has[datetime.date]:
        return T.DateType()
    if has[float]:
        return T.DoubleType()
    if has[int]:
        return T.LongType()
    if has[bool]:
        return T.BooleanType()
    return T.NullType()


def run_greatest(columns: list[list], spark: SparkSession | None = None) -> list:
    """`greatest.run_greatest(list_of_columns) -> list` (src/lib.rs:57).

    Cross-COLUMN coercion (Float64 dominates, boolean+numeric -> Int64,
    date+timestamp -> timestamp) and the incompatible-type plan error
    are delegated to Spark's own `greatest` resolution — the behavior
    the reference defines as ground truth (README.md:5)."""
    if len(columns) < 2:
        # raise PySpark's own arity error — the exact text the reference
        # matches against (greatest_test.py:378)
        F.greatest(*(F.lit(None),) * len(columns))
        raise AssertionError("unreachable: F.greatest enforces arity >= 2")
    n = len(columns[0])
    if any(len(c) != n for c in columns):
        raise ValueError("all columns must have equal length")
    spark = spark or SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    schema = T.StructType(
        [T.StructField(f"c{i}", _infer_column_type(c), True) for i, c in enumerate(columns)]
    )
    # boolean+numeric -> Int64 pre-widening (lib.rs:30-54): Spark's own
    # greatest coercion does not implicitly cast boolean to numeric, but
    # the reference's Python surface does — widen here to match it.
    kinds = {type(f.dataType) for f in schema.fields}
    if T.BooleanType in kinds and (T.LongType in kinds or T.DoubleType in kinds):
        columns = [
            [None if v is None else int(v) for v in c]
            if isinstance(f.dataType, T.BooleanType) else c
            for c, f in zip(columns, schema.fields)
        ]
        schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.LongType() if isinstance(f.dataType, T.BooleanType) else f.dataType,
                    True,
                )
                for f in schema.fields
            ]
        )
    # A column mixing ints and floats infers DoubleType, but
    # createDataFrame rejects a Python int in a DoubleType field: widen
    # its values to float the same way.
    columns = [
        [None if v is None else float(v) for v in c]
        if isinstance(f.dataType, T.DoubleType) else c
        for c, f in zip(columns, schema.fields)
    ]
    rows = list(zip(*columns))
    df = spark.createDataFrame(rows, schema)
    out = df.select(F.greatest(*[F.col(f.name) for f in schema.fields]).alias("g"))
    return [r.g for r in out.collect()]
