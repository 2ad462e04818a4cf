"""exp4j-dialect expression compiler tests — semantics from
util/ExpressionUtil.java:277-560 and docs/config/module/common/expression.md."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pipeline_spark.compilers.expression import (
    compile_expression,
    field_variables,
    max_lag_index,
    schema_resolver,
)


@pytest.fixture(scope="module")
def df(spark):
    import datetime as dt

    return spark.createDataFrame(
        [
            Row(
                x=3.0,
                y=2.0,
                n=7,
                flag=True,
                ts=dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc),
                ts2=dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
            )
        ]
    )


def ev(df, expr):
    sql = compile_expression(expr, schema_resolver(df))
    return df.select(F.expr(sql).alias("r")).collect()[0]["r"]


def test_arithmetic(df):
    assert ev(df, "x + y * 2") == 7.0
    assert ev(df, "(x + y) * 2") == 10.0
    assert ev(df, "x % y") == 1.0
    assert ev(df, "-x + 1") == -2.0


def test_power_right_assoc(df):
    assert ev(df, "y ^ x") == 8.0
    assert ev(df, "y ^ y ^ 2") == 16.0  # 2^(2^2)


def test_comparison_returns_01(df):
    assert ev(df, "x > y") == 1.0
    assert ev(df, "x < y") == 0.0
    assert ev(df, "x = 3") == 1.0
    assert ev(df, "x != 3") == 0.0


def test_logical(df):
    assert ev(df, "x > y & y > 1") == 1.0
    assert ev(df, "x > y & y > 5") == 0.0
    assert ev(df, "x < y | y > 1") == 1.0
    assert ev(df, "!(x > y)") == 0.0


def test_if(df):
    assert ev(df, "if(x > y, 10, 20)") == 10.0
    assert ev(df, "if(x < y, 10, 20)") == 20.0


def test_switch(df):
    assert ev(df, "switch2(x < y, 1, x > y, 2)") == 2.0
    assert ev(df, "switch2(x < y, 1, x = 0, 2)") == 0.0


def test_max_min_funcs(df):
    assert ev(df, "max(x, y)") == 3.0
    assert ev(df, "min(x, y)") == 2.0


def test_math_funcs(df):
    assert ev(df, "sqrt(x * x)") == 3.0
    assert abs(ev(df, "log(e)") - 1.0) < 1e-12
    assert abs(ev(df, "cos(0)") - 1.0) < 1e-12
    assert ev(df, "abs(0 - x)") == 3.0
    assert ev(df, "ceil(2.1)") == 3.0
    assert ev(df, "floor(2.9)") == 2.0


def test_constants(df):
    assert abs(ev(df, "pi") - math.pi) < 1e-12


def test_bool_coercion(df):
    assert ev(df, "flag + 1") == 2.0


def test_timestamp_diff_day(df):
    # ts fields are epoch micros as doubles (reference type mapping)
    assert ev(df, "timestamp_diff_day(ts, ts2)") == 1.0
    assert ev(df, "timestamp_diff_hour(ts, ts2)") == 24.0


def test_timestamp_to_date(df):
    assert ev(df, "timestamp_to_date(ts, 0)") == 19724.0  # 2024-01-02 epoch day


def test_field_variables():
    assert field_variables("a + b * if(c > 0, d, 1)") == {"a", "b", "c", "d"}


def test_max_lag_index():
    assert max_lag_index("v[1] - v[3] + x") == 3
    assert max_lag_index("v + x") == 0


def test_if_arity_error_names_the_function(df):
    with pytest.raises(ValueError, match=r"if\(\) takes 3 args .* got 2"):
        compile_expression("if(x > y, 1)", schema_resolver(df))


def test_switch_arity_error_names_the_function(df):
    with pytest.raises(ValueError, match=r"switch3\(\) takes condition/value pairs .* got 3"):
        compile_expression("switch3(x > 0, 5, 7)", schema_resolver(df))


def test_max_min_take_any_arity(df):
    assert ev(df, "max(x, y, n)") == 7.0
    assert ev(df, "min(x, y, n)") == 2.0
