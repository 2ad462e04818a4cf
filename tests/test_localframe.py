"""Pin the r16 VALUES LocalRelation path of local_frame against the
single-partition RDD path it optimizes: same values, same schema, and
the fallbacks (row cap, unspellable types) still engage."""

import datetime as dt

import pytest
from pyspark.sql import types as T

from pipeline_spark.functions.localframe import (
    _VALUES_MAX_ROWS,
    _sql_value,
    _values_sql,
    local_frame,
)


def _rdd_frame(spark, rows, schema):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(rows), 1), schema
    )


def test_values_path_matches_rdd_path(spark):
    rows = [
        ("/tmp/a b/part-0.parquet", 7, None),
        ("it's got 'quotes' and \\backslashes\\", None, 2.5),
        (None, -(2**40), float("nan")),
    ]
    schema = "p string, n long, x double"
    a = local_frame(spark, rows, schema)
    b = _rdd_frame(spark, rows, schema)
    assert a.schema.fieldNames() == b.schema.fieldNames()
    assert [f.dataType for f in a.schema.fields] == [
        f.dataType for f in b.schema.fields
    ]

    def norm(df):
        out = []
        for r in df.collect():
            out.append(tuple(
                "NaN" if isinstance(v, float) and v != v else v for v in r
            ))
        return sorted(out, key=str)

    assert norm(a) == norm(b)
    # the VALUES path must be a LocalRelation: no RDD scan in the plan
    plan = a._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan


def test_values_path_types(spark):
    rows = [
        (True, b"\x00\xffbin", dt.date(2031, 5, 4)),
        (None, None, None),
    ]
    a = local_frame(spark, rows, "b boolean, raw binary, d date")
    got = sorted(a.collect(), key=str)
    want = sorted(_rdd_frame(
        spark, rows, "b boolean, raw binary, d date").collect(), key=str)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_fallbacks():
    # datetime is system-tz hazardous -> refuse (RDD path)
    try:
        _sql_value(dt.datetime(2031, 1, 1, 2, 3))
        raise AssertionError("datetime must not be spellable")
    except ValueError:
        pass
    assert _values_sql([(dt.datetime(2031, 1, 1),)], "t timestamp") is None


def test_row_cap_uses_rdd_path(spark):
    rows = [(i,) for i in range(_VALUES_MAX_ROWS + 1)]
    df = local_frame(spark, rows, "i long")
    assert df.count() == _VALUES_MAX_ROWS + 1
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan  # above the cap: the RDD path

    small = local_frame(spark, rows[:3], "i long")
    assert "LocalRelation" in (
        small._jdf.queryExecution().optimizedPlan().toString()
    )


def test_empty_rows(spark):
    df = local_frame(spark, [], "a string, b long")
    assert df.count() == 0
    assert df.schema.fieldNames() == ["a", "b"]


@pytest.mark.parametrize(
    "schema",
    [
        "a string, b long, c array<struct<x: int, y: map<string, double>>>",
        T.StructType([
            T.StructField("k", T.LongType(), False),
            T.StructField("xs", T.ArrayType(T.IntegerType(), False), True),
            T.StructField("s", T.StructType([
                T.StructField("d", T.DateType(), False)]), False),
        ]),
    ],
    ids=["ddl", "struct"],
)
def test_empty_frame_is_a_local_relation(spark, schema):
    """The empty-result sites (delta/iceberg reads that match no file, a
    kafka read with no offsets) get createDataFrame's exact schema
    without its Scan ExistingRDD and Python stage."""
    df = local_frame(spark, [], schema)
    ref = spark.createDataFrame([], schema)

    def jvm_schema(d):
        return T._parse_datatype_json_string(d._jdf.schema().json())

    assert jvm_schema(df) == jvm_schema(ref)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.collect() == []


def test_struct_schema_keeps_nullability(spark):
    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ])
    df = local_frame(spark, [(1, "a"), (2, "b")], schema)
    assert T._parse_datatype_json_string(df._jdf.schema().json()) == schema
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
