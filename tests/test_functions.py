"""Function-surface tests: registered greatest_*/func_* queries vs the
DuckDB oracle, the reference's greatest fixture cases (F1-F5 in
FIXTURES.md, mirroring /root/reference/tests/greatest_test.py), and
engine-divergent functions checked with tolerances."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rust_query_engine_greatest_spark.functions import compat
from rust_query_engine_greatest_spark.queries import REGISTRY

from tests.conftest import assert_frames_match

FUNC = sorted(n for n in REGISTRY if n.startswith(("func_", "greatest_", "udx_")))


@pytest.mark.parametrize("name", FUNC)
def test_function_query_matches_oracle(name, spark, sf_dir, oracle):
    q = REGISTRY[name]
    df = q.build(spark, sf_dir)
    assert_frames_match(df, oracle.sql(q.oracle))


# ---- reference fixture F1: greatest_test.py:96-109 -----------------------
def test_greatest_int_fixture(spark):
    rows = [(1, 2, 7), (4, None, 5), (3, 6, None), (None, 8, 9)]
    df = spark.createDataFrame(rows, "col1 int, col2 int, col3 int")
    got = [r.g for r in df.select(compat.greatest("col1", "col2", "col3").alias("g")).collect()]
    assert got == [7, 5, 6, 9]


def test_greatest_allnull_fixture(spark):
    df = spark.createDataFrame([(None, None)], "col1 int, col2 int")
    assert df.select(compat.greatest("col1", "col2").alias("g")).collect()[0].g is None


# ---- F2: NaN wins (greatest_test.py:130-148), ±inf ------------------------
def test_greatest_nan_and_inf(spark):
    nan, inf = float("nan"), float("inf")
    rows = [(nan, 1.0, 2.0), (1.0, 5.0, 3.0), (-inf, inf, 0.0), (nan, nan, nan)]
    df = spark.createDataFrame(rows, "col1 double, col2 double, col3 double")
    got = [r.g for r in df.select(compat.greatest("col1", "col2", "col3").alias("g")).collect()]
    assert math.isnan(got[0]) and got[1] == 5.0 and got[2] == inf and math.isnan(got[3])


# ---- F3: strings (greatest_test.py:203-238) -------------------------------
def test_greatest_strings(spark):
    rows = [("apple", "apricot", "avocado"), ("banana", "blueberry", "blackberry"),
            ("cherry", "citrus", "cranberry")]
    df = spark.createDataFrame(rows, "col1 string, col2 string, col3 string")
    got = [r.g for r in df.select(compat.greatest("col1", "col2", "col3").alias("g")).collect()]
    assert got == ["avocado", "blueberry", "cranberry"]


# ---- F4: bool / date / timestamp ------------------------------------------
def test_greatest_bool_date_ts(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(True, False, dt.date(2020, 1, 1), dt.date(2020, 6, 1),
          dt.datetime(2020, 1, 1, 12), dt.datetime(2020, 1, 1, 13))],
        "b1 boolean, b2 boolean, d1 date, d2 date, t1 timestamp, t2 timestamp",
    )
    r = df.select(
        compat.greatest("b1", "b2").alias("gb"),
        compat.greatest("d1", "d2").alias("gd"),
        compat.greatest("t1", "t2").alias("gt"),
    ).collect()[0]
    assert r.gb is True and r.gd == dt.date(2020, 6, 1) and r.gt == dt.datetime(2020, 1, 1, 13)


# ---- F5: coercion + error parity (greatest_test.py:309-419) ---------------
def test_greatest_mixed_coerces_to_double(spark):
    df = spark.createDataFrame([(1, 2.5)], "col1 int, col2 float")
    out = df.select(compat.greatest("col1", "col2").alias("g"))
    assert out.schema["g"].dataType.typeName() in ("double", "float")
    assert out.collect()[0].g == 2.5


def test_greatest_bool_int_is_type_error(spark):
    """DOCUMENTED DIVERGENCE: the reference kernel coerces boolean+numeric
    to Int64 (greatest.rs:91-94), but real PySpark — the oracle the
    reference itself tests against (tests/greatest_test.py:34-39) — raises
    DATATYPE_MISMATCH for greatest(boolean, int). Spark's behavior is the
    contract here; explicit casting is the supported path."""
    df = spark.createDataFrame([(True, 7)], "col1 boolean, col2 int")
    with pytest.raises(Exception, match="(?i)data.?type|mismatch"):
        df.select(compat.greatest("col1", "col2")).collect()
    # explicit cast path works and matches the reference's numeric result
    got = df.select(compat.greatest(F.col("col1").cast("int"), "col2").alias("g")).collect()
    assert got[0].g == 7


def test_greatest_incompatible_types_errors(spark):
    # greatest.rs:1034-1054: int vs utf8 → plan-time "data type mismatch"
    df = spark.createDataFrame([(1, "a")], "col1 int, col2 string")
    with pytest.raises(Exception, match="(?i)data.?type|cannot resolve|mismatch"):
        df.select(compat.greatest("col1", "col2")).collect()


def test_greatest_arity_error(spark):
    # greatest.rs:78-81: >= 2 args required
    df = spark.createDataFrame([(1,)], "col1 int")
    with pytest.raises(Exception):
        df.select(F.expr("greatest(col1)")).collect()


def test_greatest_many_args(spark):
    # greatest_test.py:422-450: wide-arg stress (20 cols there, 200 here)
    n = 200
    row = tuple(range(n))
    df = spark.createDataFrame([row], ", ".join(f"c{i} int" for i in range(n)))
    assert df.select(compat.greatest(*[f"c{i}" for i in range(n)]).alias("g")).collect()[0].g == n - 1


# ---- compat array functions ----------------------------------------------
def test_array_compat_functions(spark):
    df = spark.createDataFrame([([1, 2, 2, 3, 2],)], "a array<int>")
    r = df.select(
        compat.array_pop_back("a").alias("pb"),
        compat.array_pop_front("a").alias("pf"),
        compat.array_remove_first("a", 2).alias("r1"),
        compat.array_remove_n("a", 2, 2).alias("rn"),
        compat.array_remove_all("a", 2).alias("ra"),
        compat.array_replace_first("a", 2, 9).alias("p1"),
        compat.array_replace_all("a", 2, 9).alias("pa"),
        compat.array_resize("a", 7, F.lit(0)).alias("rz"),
        compat.array_resize("a", 3).alias("rz3"),
    ).collect()[0]
    assert r.pb == [1, 2, 2, 3]
    assert r.pf == [2, 2, 3, 2]
    assert r.r1 == [1, 2, 3, 2]
    assert r.rn == [1, 3, 2]
    assert r.ra == [1, 3]
    assert r.p1 == [1, 9, 2, 3, 2]
    assert r.pa == [1, 9, 9, 3, 9]
    assert r.rz == [1, 2, 2, 3, 2, 0, 0]
    assert r.rz3 == [1, 2, 2]


def test_array_distance(spark):
    df = spark.createDataFrame([([3.0, 4.0], [0.0, 0.0])], "a array<double>, b array<double>")
    assert df.select(compat.array_distance("a", "b").alias("d")).collect()[0].d == 5.0


def test_gcd_lcm_scalars(spark):
    df = spark.createDataFrame([(54, 24), (0, 5), (7, 13)], "a long, b long")
    rows = df.select(compat.gcd("a", "b").alias("g"), compat.lcm("a", "b").alias("l")).collect()
    assert [(r.g, r.l) for r in rows] == [(6, 216), (5, 0), (1, 91)]


def test_lcm_exact_beyond_double_precision(spark):
    """lcm stays integral-exact where the old |a·b|/g formulation broke:
    these products a·b exceed 2⁶³ (long overflow) and 2⁵³ (double
    precision), but each true lcm fits in a long because gcd is large."""
    a1, b1 = 3 * 10**17, 2 * 10**17   # gcd 10^17 → lcm 6·10^17
    a2, b2 = 2**62, 2**61             # gcd 2^61  → lcm 2^62
    df = spark.createDataFrame([(a1, b1), (a2, b2), (-a1, b1)], "a long, b long")
    rows = df.select(compat.lcm("a", "b").alias("l")).collect()
    assert [r.l for r in rows] == [6 * 10**17, 2**62, 6 * 10**17]


def test_string_agg_ordered(spark):
    df = spark.createDataFrame([("x", 2, "b"), ("x", 1, "a"), ("x", 3, "c")], "k string, o int, v string")
    out = df.groupBy("k").agg(compat.string_agg(F.col("v"), ",", order_by=F.col("o")).alias("s"))
    assert out.collect()[0].s == "a,b,c"


def test_date_bin_compat(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0, 37),), (dt.datetime(2024, 1, 1, 1, 14),)], "ts timestamp"
    )
    got = [r.b for r in df.select(compat.date_bin(1800, "ts", "2024-01-01 00:00:00").alias("b")).collect()]
    assert got == [dt.datetime(2024, 1, 1, 0, 30), dt.datetime(2024, 1, 1, 1, 0)]


# ---- engine-divergent functions: tolerance / behavior-only ----------------
def test_approx_count_distinct_close_to_exact(spark, sf_dir):
    from rust_query_engine_greatest_spark.sources.catalog import load_table

    l = load_table(spark, sf_dir, "lineitem")
    exact = l.select(F.countDistinct("l_partkey")).collect()[0][0]
    approx = l.select(F.approx_count_distinct("l_partkey")).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_percentile_approx_close(spark, sf_dir):
    from rust_query_engine_greatest_spark.sources.catalog import load_table

    l = load_table(spark, sf_dir, "lineitem")
    med = l.select(F.median("l_extendedprice")).collect()[0][0]
    app = l.select(F.percentile_approx("l_extendedprice", 0.5, 10000)).collect()[0][0]
    assert abs(app - med) / med < 0.02


# ---- §2.10 extension surface ------------------------------------------------

def test_greatest_udf_differential_vs_builtin(spark):
    """The reference proves its native greatest kernel against PySpark's
    built-in (tests/greatest_test.py:29-90); we prove the pandas-UDF
    kernel the same way — per-row equality including the NaN/NULL
    contract (NaN wins, NULL skipped, all-NULL → NULL;
    greatest.rs:261-278, :370-384) and the reference fixture
    [7,5,6,9] (tests/greatest_test.py:96-101)."""
    import math
    import random as pyrandom

    from rust_query_engine_greatest_spark.functions import udx

    nan = float("nan")
    fixture = [
        (1.0, 5.0, 3.0), (7.0, 2.0, 2.0), (3.0, 6.0, 1.0), (4.0, 5.0, 9.0),  # → 5,7,6,9
        (None, None, None), (nan, 1.0, None), (-1.0, nan, nan),
        (float("inf"), nan, 1.0), (-0.0, 0.0, None),
    ]
    rng = pyrandom.Random(13)
    for _ in range(200):
        fixture.append(tuple(
            rng.choice([None, nan, rng.uniform(-1e6, 1e6), float(rng.randint(-5, 5))])
            for _ in range(3)
        ))
    df = spark.createDataFrame(fixture, "a double, b double, c double")
    rows = df.select(
        udx.greatest_udf("a", "b", "c").alias("mine"),
        F.greatest("a", "b", "c").alias("builtin"),
    ).collect()
    assert [5.0, 7.0, 6.0, 9.0] == [r.mine for r in rows[:4]]
    for r in rows:
        if r.builtin is None:
            assert r.mine is None
        elif math.isnan(r.builtin):
            assert math.isnan(r.mine)
        else:
            assert r.mine == r.builtin


def test_greatest_udf_arity_error():
    from rust_query_engine_greatest_spark.functions import udx

    with pytest.raises(ValueError, match="at least 2"):
        udx.greatest_udf("a")


def test_cents_sum_as_window_function(spark):
    """WindowUDF extension point (expr/src/udwf.rs:291): the GROUPED_AGG
    pandas UDF applied over a window partition."""
    from pyspark.sql.window import Window

    from rust_query_engine_greatest_spark.functions import udx

    df = spark.createDataFrame(
        [("a", 1.25), ("a", 2.50), ("b", 0.10), ("b", None)], "g string, v double"
    )
    got = {
        (r.g, r.wc)
        for r in df.select("g", udx.cents_sum("v").over(Window.partitionBy("g")).alias("wc")).collect()
    }
    assert got == {("a", 375), ("b", 10)}


def test_generate_series_udtf_negative_step_and_error(spark):
    from rust_query_engine_greatest_spark.functions import udx

    gs = udx.make_generate_series_udtf()
    assert [r.s for r in gs(F.lit(5), F.lit(1), F.lit(-2)).collect()] == [5, 3, 1]
    with pytest.raises(Exception, match="step must not be zero"):
        gs(F.lit(1), F.lit(5), F.lit(0)).collect()


def test_sql_dialect_names_stay_jvm_side(spark):
    """functions/sql_names.py: the dialect shim must inline as Catalyst
    expressions — a plan containing BatchEvalPython/PythonUDF would mean
    the names fell back to the slow path."""
    from rust_query_engine_greatest_spark.functions.sql_names import register_sql_names
    from rust_query_engine_greatest_spark.plans import plan_string

    names = register_sql_names(spark)
    assert "date_bin" in names and "array_distance" in names
    df = spark.sql("""
        SELECT iszero(CAST(id AS DOUBLE)) z, to_hex(id) h,
               array_distance(array(CAST(id AS DOUBLE), 0.0), array(0.0, 0.0)) d,
               date_bin(3600, timestamp_seconds(id * 1000), TIMESTAMP '1970-01-01') b
        FROM range(5)
    """)
    p = plan_string(df)
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    rows = df.collect()
    assert rows[0].z is True and rows[1].z is False
    assert rows[3].d == 3.0
    # string_to_array must treat the delimiter literally (reference /
    # Postgres semantics), even when it's a regex metacharacter
    row = spark.sql(
        "SELECT string_to_array('a|b|c', '|') a, string_to_array('a.b+c', '.') b, "
        "string_to_array('x^y', '^') c, string_to_array('abc', '') d"
    ).collect()[0]
    assert row.a == ["a", "b", "c"] and row.b == ["a", "b+c"]
    assert row.c == ["x", "y"] and row.d == ["abc"]


# ---- run_greatest: the reference's list-in/list-out Python API -------------
# (src/lib.rs:56-406; fixture greatest_test.py:96-101 answers [7,5,6,9])

def test_run_greatest_reference_fixture(spark):
    from rust_query_engine_greatest_spark.functions.api import run_greatest

    assert run_greatest(
        [[1, 5, 3, 9], [7, 2, 6, 4], [4, 5, 2, 8]], spark
    ) == [7, 5, 6, 9]


def test_run_greatest_null_skip_and_allnull(spark):
    from rust_query_engine_greatest_spark.functions.api import run_greatest

    assert run_greatest([[None, None, 3], [2, None, None]], spark) == [2, None, 3]


def test_run_greatest_nan_wins_and_float_coercion(spark):
    from rust_query_engine_greatest_spark.functions.api import run_greatest

    out = run_greatest([[1, 2], [float("nan"), 1.5]], spark)
    assert math.isnan(out[0]) and out[1] == 2.0 and isinstance(out[1], float)


def test_run_greatest_mixed_int_float_column(spark):
    """A column holding both Python ints and floats is DoubleType; its
    ints must be widened before they reach createDataFrame."""
    from rust_query_engine_greatest_spark.functions.api import run_greatest

    assert run_greatest([[1, 2.5, None], [3, 1, None]], spark) == [3.0, 2.5, None]


def test_run_greatest_bool_numeric_widens_to_int(spark):
    from rust_query_engine_greatest_spark.functions.api import run_greatest

    # lib.rs:30-54: boolean+numeric -> Int64 (True -> 1)
    assert run_greatest([[True, False], [0, 5]], spark) == [1, 5]


def test_run_greatest_date_timestamp(spark):
    import datetime

    from rust_query_engine_greatest_spark.functions.api import run_greatest

    d = datetime.date(2024, 3, 1)
    t = datetime.datetime(2024, 2, 1, 12, 0)
    out = run_greatest([[d], [t]], spark)
    assert out == [datetime.datetime(2024, 3, 1, 0, 0)]


def test_run_greatest_arity_and_mismatch_errors(spark):
    from rust_query_engine_greatest_spark.functions.api import run_greatest

    with pytest.raises(Exception, match="(?i)greatest|at least"):
        run_greatest([[1, 2]], spark)
    with pytest.raises(Exception, match="(?i)data type mismatch|cannot resolve|greatest"):
        run_greatest([[1, 2], ["a", "b"]], spark)
    with pytest.raises(ValueError, match="equal length"):
        run_greatest([[1, 2], [1]], spark)


def test_error_surface_classes(spark):
    """Error-surface parity (errors.slt): representative failure
    classes raise typed, catchable analysis/arithmetic errors — not
    silent wrong results. (greatest-specific arity/type errors are
    pinned separately above.)"""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    spark.createDataFrame([(1,)], "a int").createOrReplaceTempView("err_t")
    with _pytest.raises(AnalysisException):            # unresolved column
        spark.sql("SELECT no_such_col FROM err_t").collect()
    with _pytest.raises(AnalysisException):            # unresolved function
        spark.sql("SELECT no_such_fn(a) FROM err_t").collect()
    with _pytest.raises(AnalysisException):            # grouping violation
        spark.sql("SELECT a, count(*) FROM err_t GROUP BY 'x'").collect()
    with _pytest.raises(Exception, match="CAST_INVALID_INPUT|cannot be cast"):
        spark.sql("SELECT CAST('abc' AS INT) FROM err_t").collect()  # ANSI cast
    with _pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        spark.sql("SELECT a / 0 FROM err_t").collect()               # ANSI div


def test_identifier_resolution_surface(spark):
    """Identifier parity (identifiers.slt): case-insensitive resolution
    by default, backquoted special identifiers, qualified star."""
    df = spark.createDataFrame([(1, 2)], "a int, `odd name` int")
    df.createOrReplaceTempView("ident_t")
    assert spark.sql("SELECT A FROM ident_t").collect()[0][0] == 1
    assert spark.sql("SELECT `odd name` FROM ident_t").collect()[0][0] == 2
    assert spark.sql("SELECT t.* FROM ident_t t").columns == ["a", "odd name"]
