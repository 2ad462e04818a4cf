"""The exp4j and filter-DSL compilers emit SQL text; Catalyst must parse it
into the same analyzed tree the Column API builds for the same semantics.

Each test builds the expected Column tree inline (the construction the
compilers used before they emitted text) and compares the analyzed plans,
printed and as JSON trees (node classes and fields), with expression ids
masked.  The NaN/±Inf guard of float/double comparison
leaves is the one exception: its ``Infinity`` literal has no SQL literal
spelling (``CAST('Infinity' AS DOUBLE)``), so those leaves compare
optimized plans, where the cast is folded.
"""

import datetime as dt
import math
import re
from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline_spark.compilers.expression import compile_expression, schema_resolver
from pipeline_spark.compilers.filter_dsl import compile_filter
from pipeline_spark.compilers.select_fns import apply_select
from pipeline_spark.operators.partition import partition_transform
from pipeline_spark.registry import ModuleContext


def analyzed(df) -> tuple[str, str]:
    """The analyzed plan as printed and as its JSON tree, ids masked: the
    printed plan shows a negative literal and UnaryMinus(literal) alike,
    the JSON tree shows ``named_struct`` and ``struct`` alike."""
    plan = df._jdf.queryExecution().analyzed()
    return (
        re.sub(r"#\d+", "#", plan.toString()),
        re.sub(r'"(id|jvmId)":("[^"]*"|\d+)', "", plan.toJSON()),
    )


def optimized(df) -> str:
    return re.sub(r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString())


SCHEMA = T.StructType(
    [
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("f", T.FloatType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ts2", T.TimestampType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("st", T.StructType([T.StructField("a", T.IntegerType()),
                                          T.StructField("b", T.StringType())])),
    ]
)


@pytest.fixture(scope="module")
def df(spark):
    row = (
        3.0, 2.0, 1.5, 7, True, "abc", dt.date(2024, 1, 2),
        dt.datetime(2024, 1, 2, 3, 4, 5), dt.datetime(2024, 1, 1),
        Decimal("1.25"), (1, "z"),
    )
    return spark.createDataFrame([row], SCHEMA)


# -- the Column tree the exp4j dialect denotes ---------------------------------


def c(name):
    if name in ("ts", "ts2"):
        return F.unix_micros(F.col(name)).cast("double")
    if name == "d":
        return F.datediff(F.col(name), F.lit("1970-01-01")).cast("double")
    return F.col(name).cast("double")


def b2d(cond):
    return F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0))


def truthy(col):
    return col > F.lit(0.0)


def exp4j_cases() -> dict:
    """expression -> the Column it denotes (built lazily: Columns need a
    live session)."""
    X, Y = c("x"), c("y")
    cases = {
        "x = y": b2d(X == Y),
        "x != y": b2d(X != Y),
        "x > y": b2d(X > Y),
        "x >= y": b2d(X >= Y),
        "x < y": b2d(X < Y),
        "x <= y": b2d(X <= Y),
        "!x": b2d(~truthy(X)),
        "x & y": b2d(truthy(X) & truthy(Y)),
        "x | y": b2d(truthy(X) | truthy(Y)),
        "x | y & !n": b2d(truthy(X) | truthy(b2d(truthy(Y) & truthy(b2d(~truthy(c("n"))))))),
        "x ^ y": F.pow(X, Y),
        "y ^ y ^ 2": F.pow(Y, F.pow(Y, F.lit(2.0))),
        "x % y": X % Y,
        "x + y": X + Y,
        "x - y - 1": (X - Y) - F.lit(1.0),
        "x * y / 4": (X * Y) / F.lit(4.0),
        "x + y * 2": X + (Y * F.lit(2.0)),
        "-x": -X,
        "-2 + x": -F.lit(2.0) + X,
        "+x": X,
        "-(x + 1.5)": -(X + F.lit(1.5)),
        "if(x > y, n, 2)": F.when(truthy(b2d(X > Y)), c("n")).otherwise(F.lit(2.0)),
        "switch2(x > 5, 10, y > 1, 20)": F.when(truthy(b2d(X > F.lit(5.0))), F.lit(10.0))
        .when(truthy(b2d(Y > F.lit(1.0))), F.lit(20.0))
        .otherwise(F.lit(0.0)),
        "max(x, y)": F.greatest(X, Y),
        "min(x, n)": F.least(X, c("n")),
        "pi * e": F.lit(math.pi) * F.lit(math.e),
        "π": F.lit(math.pi),
        "flag + n + s": (c("flag") + c("n")) + c("s"),
        "d + ts": c("d") + c("ts"),
        "timestamp_diff_microsecond(ts, ts2)": c("ts") - c("ts2"),
        "timestamp_diff_day(ts, ts2)": ((c("ts") - c("ts2")) / F.lit(86_400_000_000.0))
        .cast("long")
        .cast("double"),
        "timestamp_to_date(ts, 9)": F.floor(
            (c("ts") + F.lit(9.0) * F.lit(3_600_000_000.0)).cast("long") / F.lit(1000.0)
            / F.lit(86_400_000.0)
        ).cast("double"),
    }

    unary = {
        "abs": F.abs, "acos": F.acos, "asin": F.asin, "atan": F.atan,
        "cbrt": F.cbrt, "cos": F.cos, "cosh": F.cosh, "exp": F.exp,
        "log": F.log, "ln": F.log, "log10": F.log10, "log2": F.log2,
        "sin": F.sin, "sinh": F.sinh, "sqrt": F.sqrt, "tan": F.tan,
        "tanh": F.tanh, "signum": F.signum,
    }
    for name, fn in unary.items():
        cases[f"{name}(x)"] = fn(X)
    cases["ceil(x)"] = F.ceil(X).cast("double")
    cases["floor(x)"] = F.floor(X).cast("double")
    return cases


EXP4J = [
    "x = y", "x != y", "x > y", "x >= y", "x < y", "x <= y", "!x", "x & y",
    "x | y", "x | y & !n", "x ^ y", "y ^ y ^ 2", "x % y", "x + y", "x - y - 1",
    "x * y / 4", "x + y * 2", "-x", "-2 + x", "+x", "-(x + 1.5)",
    "if(x > y, n, 2)", "switch2(x > 5, 10, y > 1, 20)", "max(x, y)", "min(x, n)",
    "pi * e", "π", "flag + n + s", "d + ts", "timestamp_diff_microsecond(ts, ts2)",
    "timestamp_diff_day(ts, ts2)", "timestamp_to_date(ts, 9)",
    "abs(x)", "acos(x)", "asin(x)", "atan(x)", "cbrt(x)", "ceil(x)", "cos(x)",
    "cosh(x)", "exp(x)", "floor(x)", "log(x)", "ln(x)", "log10(x)", "log2(x)",
    "sin(x)", "sinh(x)", "sqrt(x)", "tan(x)", "tanh(x)", "signum(x)",
]


def test_exp4j_cases_cover_every_operator_and_function(spark):
    assert set(EXP4J) == set(exp4j_cases())


@pytest.mark.parametrize("expr", EXP4J)
def test_exp4j_plan_equals_column_build(df, expr):
    sql = compile_expression(expr, schema_resolver(df))
    got = df.select(F.expr(sql).alias("r"))
    want = df.select(exp4j_cases()[expr].alias("r"))
    assert analyzed(got) == analyzed(want)


def test_bound_output_is_inlined_with_type_aware_coercion(df):
    # a bound (earlier select) timestamp coerces to epoch micros like a
    # physical one, and its text is inlined
    sql = compile_expression("t + 1", schema_resolver(df, extra={"t": "`ts`"}))
    got = df.select(F.expr(sql).alias("r"))
    want = df.select((c("ts") + F.lit(1.0)).alias("r"))
    assert analyzed(got) == analyzed(want)


@pytest.mark.parametrize("grouped", [True, False])
def test_lag_plan_equals_window_build(spark, grouped):
    frame = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 0, 0, i), float(i)) for i in range(3)],
        "k string, ts timestamp, v double",
    )
    got = apply_select(
        frame,
        [{"name": "r", "func": "lag", "expression": "v - v[1] + v[2]"}],
        event_time_col="ts",
        group_fields=["k"] if grouped else [],
    )
    w = Window.partitionBy(*([F.col("k")] if grouped else [])).orderBy(F.col("ts"))
    v = F.col("v").cast("double")
    want = frame.withColumn("r", (v - F.lag(v, 1).over(w)) + F.lag(v, 2).over(w)).select("r")
    assert analyzed(got) == analyzed(want)


# -- filter DSL leaves -------------------------------------------------------------


def parse_ts(lit):
    s = lit.cast("string")
    return F.coalesce(
        F.try_to_timestamp(s),
        F.try_to_timestamp(s, F.lit("yyyyMMdd")),
        F.try_to_timestamp(s, F.lit("yyyy/MM/dd HH:mm:ss")),
        F.try_to_timestamp(s, F.lit("yyyy/MM/dd")),
    )


def finite(col):
    return ~F.isnan(col) & (F.abs(col) != F.lit(float("inf")))


def leaf(key, op, value):
    return {"key": key, "op": op, "value": value}


def S():
    return F.col("s")


# (condition, the Column it denotes) — built lazily, Columns need a session
FILTERS = [
    (leaf("s", "in", ["abc", "z"]), lambda: S().cast("string").isin(["abc", "z"])),
    (leaf("n", "in", [7, 8]), lambda: F.col("n").cast("string").isin(["7", "8"])),
    (leaf("s", "not in", ["abc"]), lambda: ~S().cast("string").isin(["abc"]) & S().isNotNull()),
    (
        leaf("flag", "in", [False]),
        lambda: F.when(F.col("flag"), "true").when(~F.col("flag"), "false").isin(["false"]),
    ),
    (leaf("s", "=", None), lambda: S().isNull()),
    (leaf("s", "!=", None), lambda: S().isNotNull()),
    (leaf("s", ">", None), lambda: F.lit(False)),
    (leaf("s", "match", r"^a\d*'b"), lambda: S().cast("string").rlike(r"^a\d*'b")),
    (leaf("st.a", "=", 1), lambda: F.col("st").getField("a") == F.lit(1)),
    (leaf("st.b", "in", ["z"]), lambda: F.col("st").getField("b").cast("string").isin(["z"])),
    (
        leaf("ts", ">=", "2024-01-01 10:00:00"),
        lambda: F.col("ts") >= parse_ts(F.lit("2024-01-01 10:00:00")),
    ),
    (leaf("d", "<", "2024-02-01"), lambda: F.col("d") < F.to_date(F.lit("2024-02-01"))),
    (leaf("dec", ">", "1.20"), lambda: F.col("dec") > F.lit("1.20").cast(T.DecimalType(10, 2))),
    (leaf("dec", "<=", 2), lambda: F.col("dec") <= F.lit("2").cast(T.DecimalType(10, 2))),
    (leaf("n", "=", "7"), lambda: F.col("n") == F.lit(7)),
    (leaf("n", "!=", 7), lambda: F.col("n") != F.lit(7)),
    (leaf("s", "<", "b"), lambda: S() < F.lit("b")),
    (leaf("flag", "=", True), lambda: F.col("flag") == F.lit(True)),
    ({"key": "s", "op": "true"}, lambda: F.lit(True)),
    ({"key": "s", "op": "false"}, lambda: F.lit(False)),
    (
        [leaf("n", ">", 1), leaf("s", "=", "abc"), leaf("flag", "=", True)],
        lambda: ((F.col("n") > F.lit(1)) & (S() == F.lit("abc"))) & (F.col("flag") == F.lit(True)),
    ),
    (
        {"or": [leaf("n", ">", 1), {"and": [leaf("s", "=", "abc"), leaf("n", "<", 9)]}]},
        lambda: F.coalesce(F.col("n") > F.lit(1), F.lit(False))
        | F.coalesce((S() == F.lit("abc")) & (F.col("n") < F.lit(9)), F.lit(False)),
    ),
]


@pytest.mark.parametrize("cond,want", FILTERS, ids=[str(c) for c, _ in FILTERS])
def test_filter_leaf_plan_equals_column_build(df, cond, want):
    assert analyzed(df.filter(compile_filter(cond, df))) == analyzed(df.filter(want()))


FLOAT_LEAVES = [
    (leaf("x", ">", 1), lambda: finite(F.col("x")) & (F.col("x") > F.lit(1))),
    (leaf("x", "=", "2.5"), lambda: finite(F.col("x")) & (F.col("x") == F.lit(2.5))),
    (leaf("f", "<", 2.5), lambda: finite(F.col("f")) & (F.col("f") < F.lit(2.5))),
    (leaf("x", "!=", float("nan")), lambda: finite(F.col("x")) & (F.col("x") != F.lit(float("nan")))),
    (
        {"expression": "x + y", "op": ">=", "value": 4},
        lambda: finite(c("x") + c("y")) & ((c("x") + c("y")) >= F.lit(4)),
    ),
]


@pytest.mark.parametrize("cond,want", FLOAT_LEAVES, ids=[str(c) for c, _ in FLOAT_LEAVES])
def test_float_leaf_guard_optimizes_to_column_build(df, cond, want):
    assert optimized(df.filter(compile_filter(cond, df))) == optimized(df.filter(want()))


def test_bound_key_resolves_through_its_text(df):
    # nullif's condition sees an earlier select output by name
    got = apply_select(
        df,
        [
            {"name": "m", "expression": "n * 2"},
            {"name": "out", "func": "nullif", "field": "s",
             "condition": leaf("m", ">", 10)},
        ],
    )
    m = c("n") * F.lit(2.0)
    want = df.select(
        m.alias("m"),
        F.when(finite(m) & (m > F.lit(10)), F.lit(None)).otherwise(S()).alias("out"),
    )
    assert optimized(got) == optimized(want)


def test_partition_branches_and_excluded_plan_equals_column_build(spark, df):
    parts = [
        {"name": "hot", "filters": [leaf("s", "=", "abc")]},
        {"name": "bulk", "filters": [leaf("n", ">", 5)]},
        {"name": "rest", "filters": {"or": [leaf("flag", "=", True), leaf("s", "=", None)]}},
    ]
    ctx = ModuleContext(spark=spark, name="routed",
                        params={"exclusive": True, "partitions": parts}, inputs=[df])
    outs = partition_transform(ctx)
    c1 = S() == F.lit("abc")
    c2 = F.col("n") > F.lit(5)
    c3 = F.coalesce(F.col("flag") == F.lit(True), F.lit(False)) | F.coalesce(
        S().isNull(), F.lit(False)
    )
    n1, n2, n3 = (F.coalesce(x, F.lit(False)) for x in (c1, c2, c3))
    want = {
        "hot": df.filter(c1),
        "bulk": df.filter(n2 & ~n1),
        "rest": df.filter(n3 & ~(n1 | n2)),
        "excluded": df.filter(~((n1 | n2) | n3)),
    }
    assert set(outs) == set(want)
    for name, frame in want.items():
        assert analyzed(outs[name]) == analyzed(frame), name
