"""SQL-text spellings (functions/sqltext.py) analyze to the same plans as
the Column builds they replace, and refuse what they cannot spell."""

import datetime
import decimal
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline_spark.functions.sqltext import (
    atomic_ddl,
    col_ref,
    fp_norm_sql,
    qi,
    scheme_strip_sql,
    sql_lit,
    sql_str,
)


def _analyzed(df) -> str:
    """The analyzed plan with expression ids stripped."""
    return re.sub(r"#\d+L?", "", df._jdf.queryExecution().analyzed().toString())


@pytest.fixture(scope="module")
def paths(spark):
    return spark.createDataFrame(
        [("file:///tmp/a%20b+c.parquet",), ("file:/x/p%2Bq",), ("/plain/path",), (None,)],
        "p string",
    )


def test_qi_quotes_and_resolves(spark):
    assert qi("a") == "`a`"
    assert qi("a`b") == "`a``b`"
    df = spark.createDataFrame([(1, 2)], "`a``b` int, `x-y` int")
    assert df.select(F.expr(qi("a`b")), F.expr(qi("x-y"))).first() == (1, 2)


@pytest.mark.parametrize("name", ["a", "st.b", "`x.y`", "`x.y`.z", "x-y"])
def test_col_ref_resolves_like_f_col(spark, name):
    df = spark.createDataFrame(
        [(1, (2, "s"), (3,), 4)], "a int, st struct<a:int,b:string>, `x.y` struct<z:int>, `x-y` int"
    )
    assert _analyzed(df.select(F.expr(col_ref(name)))) == _analyzed(df.select(F.col(name)))


def test_sql_str_round_trips(spark):
    for s in ["plain", "it's", "back\\slash", "quote\\'mix", "", "ünï"]:
        assert spark.sql(f"SELECT {sql_str(s)} AS s").first()["s"] == s


@pytest.mark.parametrize(
    "value",
    [None, True, False, 0, -7, 2**31 - 1, 2**31, -(2**63), 2**63 - 1,
     1.5, -0.0, 1e300, 5e-324, "", "it's \\ here"],
)
def test_sql_lit_matches_f_lit(spark, value):
    one = spark.range(1)
    text = one.select(F.expr(sql_lit(value)).alias("v"))
    col = one.select(F.lit(value).alias("v"))
    assert _analyzed(text) == _analyzed(col)
    assert text.first()["v"] == col.first()["v"]


def _optimized(df) -> str:
    return re.sub(
        r"#\d+L?", "", df._jdf.queryExecution().optimizedPlan().toString()
    )


@pytest.mark.parametrize(
    "value",
    [float("nan"), float("inf"), float("-inf"), datetime.date(2024, 1, 1),
     datetime.date(1000, 2, 28), b"x", bytearray(b"\x00\xff"),
     datetime.datetime(2024, 3, 10, 2, 30, 5, 123),
     datetime.datetime(2024, 3, 10, 2, 30, 5, 123,
                       tzinfo=datetime.timezone.utc),
     datetime.datetime(1900, 1, 1, tzinfo=datetime.timezone(
         datetime.timedelta(hours=-5)))],
    ids=["nan", "inf", "-inf", "date", "old-date", "x", "bytearray",
         "naive-datetime", "aware-datetime", "1900-datetime"],
)
def test_sql_lit_matches_f_lit_folded(spark, value):
    """Non-finite doubles and instants spell as a foldable CAST /
    timestamp_micros over a literal: equal optimized plans (dates and
    bytes are plain literals: equal analyzed plans) and equal values,
    under a non-UTC session zone."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        one = spark.range(1)
        text = one.select(F.expr(sql_lit(value)).alias("v"))
        col = one.select(F.lit(value).alias("v"))
        if isinstance(value, (float, datetime.datetime)):
            assert _optimized(text) == _optimized(col)
        else:
            assert _analyzed(text) == _analyzed(col)
        a, b = text.first()["v"], col.first()["v"]
        assert a == b or (a != a and b != b)  # NaN != NaN
        # a CAST from a string analyzes nullable; folded, it is not
        assert text.schema["v"].dataType == col.schema["v"].dataType
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_sql_lit_naive_datetime_follows_timestamp_type(spark):
    v = datetime.datetime(2024, 1, 2, 3, 4, 5, 6)
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        one = spark.range(1)
        text = one.select(F.expr(sql_lit(v)).alias("v"))
        col = one.select(F.lit(v).alias("v"))
        assert _analyzed(text) == _analyzed(col)
        assert text.first()["v"] == col.first()["v"] == v
    finally:
        spark.conf.unset("spark.sql.timestampType")


@pytest.mark.parametrize(
    "value",
    [2**63, -(2**63) - 1, datetime.datetime(1899, 12, 31, 23, 59),
     datetime.datetime(1, 1, 1, tzinfo=datetime.timezone.utc), 1j,
     decimal.Decimal("1.5"), {1}, object(), [1]],
)
def test_sql_lit_refuses(value):
    """Ints beyond BIGINT, datetimes F.lit rebases through the JVM zone's
    historical rules (before 1900), and types with no literal."""
    with pytest.raises(ValueError):
        sql_lit(value)


@pytest.mark.parametrize(
    "dt",
    [T.StringType(), T.BooleanType(), T.DateType(), T.TimestampType(),
     T.TimestampNTZType(), T.BinaryType(), T.ByteType(), T.ShortType(),
     T.IntegerType(), T.LongType(), T.FloatType(), T.DoubleType(),
     T.DecimalType(12, 3)],
)
def test_atomic_ddl_parses_back(spark, dt):
    ddl = atomic_ddl(dt)
    assert ddl == dt.simpleString()
    assert spark.sql(f"SELECT CAST(NULL AS {ddl}) AS c").schema["c"].dataType == dt


@pytest.mark.parametrize(
    "dt",
    [T.StructType([T.StructField("a-b", T.IntegerType())]),
     T.ArrayType(T.IntegerType()), T.MapType(T.StringType(), T.IntegerType())],
)
def test_atomic_ddl_refuses_nested(dt):
    assert atomic_ddl(dt) is None


def test_fp_norm_sql_equals_column_build(paths):
    text = paths.select(F.expr(fp_norm_sql("p")).alias("n"))
    col = paths.select(
        F.url_decode(
            F.regexp_replace(F.regexp_replace(F.col("p"), "^file:/+", "/"), r"\+", "%2B")
        ).alias("n")
    )
    assert _analyzed(text) == _analyzed(col)
    assert [r["n"] for r in text.collect()] == [
        "/tmp/a b+c.parquet", "/x/p+q", "/plain/path", None,
    ]


def test_scheme_strip_sql_equals_column_build(paths):
    text = paths.select(F.expr(scheme_strip_sql("p")).alias("n"))
    col = paths.select(F.regexp_replace(F.col("p"), "^file:/+", "/").alias("n"))
    assert _analyzed(text) == _analyzed(col)
    assert [r["n"] for r in text.collect()] == [
        "/tmp/a%20b+c.parquet", "/x/p%2Bq", "/plain/path", None,
    ]
