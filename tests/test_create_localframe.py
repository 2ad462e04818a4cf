"""The `create` source's inline elements build as a JVM LocalRelation
(functions/localframe.py).  Pin the equivalence that path relies on: for
dict elements with an inferred schema, typed-``schema`` elements and
scalar elements, the schema (names, types, nullability) and the rows
equal ``spark.createDataFrame``'s, and the plan is a LocalTableScan; the
values it cannot spell keep the createDataFrame RDD path."""

import datetime as dt

import pytest
from pyspark.sql import types as T

from pipeline_spark.functions.localframe import _VALUES_MAX_ROWS
from pipeline_spark.registry import ModuleContext, get_module
from pipeline_spark.sources.create import _coerce, build_schema

UTC = dt.timezone.utc


def _create(spark, params, schema=None):
    fn = get_module("create", "source").fn
    ctx = ModuleContext(spark=spark, name="c", params=params, config={"schema": schema})
    return fn(ctx)[""]


def _jvm_schema(df):
    # the JVM's schema, not the Python-side cache createDataFrame sets
    return T._parse_datatype_json_string(df._jdf.schema().json())


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_same(df, ref):
    assert _jvm_schema(df) == _jvm_schema(ref)
    assert df.collect() == ref.collect()
    assert "LocalTableScan" in _plan(df) and "ExistingRDD" not in _plan(df)


def test_dict_elements_match_create_dataframe(spark):
    elements = [
        {"name": "a", "n": 1, "x": 1.5, "ok": True, "d": dt.date(2031, 5, 4),
         "t": dt.datetime(2031, 5, 4, 1, 2, 3, 456, tzinfo=UTC), "raw": b"\x00\xff"},
        {"n": -(2**40), "name": "it's \\ quoted", "x": -0.0, "ok": False},
        {"name": None, "n": None, "x": 1e300, "ok": None, "d": None, "t": None,
         "raw": None},
    ]
    df = _create(spark, {"elements": elements})
    _assert_same(df, spark.createDataFrame(elements))
    assert _jvm_schema(df).names == ["d", "n", "name", "ok", "raw", "t", "x"]


def test_typed_schema_elements_match_create_dataframe(spark):
    fields = [
        {"name": "id", "type": "long", "mode": "required"},
        {"name": "small", "type": "int16"},
        {"name": "f", "type": "float", "mode": "required"},
        {"name": "s", "type": "string"},
        {"name": "day", "type": "date"},
        {"name": "at", "type": "timestamp", "mode": "required"},
        {"name": "flag", "type": "boolean"},
        {"name": "amount", "type": "decimal(10,2)"},
    ]
    elements = [
        {"id": 1, "small": 7, "f": 1.1, "s": "x", "day": "2031-01-02",
         "at": "2031-01-02T03:04:05.123456Z", "flag": True},
        {"id": 2, "f": 2, "at": "2031-01-02T03:04:05+05:00"},
    ]
    df = _create(spark, {"elements": elements}, {"fields": fields})
    schema = build_schema(fields)
    rows = [tuple(_coerce(e.get(f.name), f.dataType) for f in schema.fields) for e in elements]
    ref = spark.createDataFrame(rows, schema)
    _assert_same(df, ref)
    assert [f.nullable for f in _jvm_schema(df).fields] == [
        False, True, False, True, True, False, True, True]


def test_required_field_null_still_raises(spark):
    fields = [{"name": "id", "type": "long", "mode": "required"}]
    with pytest.raises(ValueError):
        _create(spark, {"elements": [{"id": None}]}, {"fields": fields})


def test_scalar_elements_match_create_dataframe(spark):
    df = _create(spark, {"elements": [3, None, 5], "type": "int"})
    schema = T.StructType([
        T.StructField("sequence", T.LongType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("value", T.IntegerType(), True),
    ])
    epoch = dt.datetime(1970, 1, 1, tzinfo=UTC)
    ref = spark.createDataFrame([(0, epoch, 3), (1, epoch, None), (2, epoch, 5)], schema)
    _assert_same(df, ref)


@pytest.mark.parametrize(
    "elements",
    [
        [{"t": dt.datetime(2031, 1, 1, 2, 3)}],  # naive: system-tz dependent
        [{"xs": [1, 2]}],  # nested
        [{"m": {"k": 1}}],  # nested
        [{"i": i} for i in range(_VALUES_MAX_ROWS + 1)],  # above the row cap
    ],
    ids=["naive-datetime", "array", "map", "row-cap"],
)
def test_unspellable_elements_keep_rdd_path(spark, elements):
    df = _create(spark, {"elements": elements})
    ref = spark.createDataFrame(elements)
    assert _jvm_schema(df) == _jvm_schema(ref)
    assert df.collect() == ref.collect()
    assert "ExistingRDD" in _plan(df)


def test_typed_naive_timestamp_keeps_rdd_path(spark):
    fields = [{"name": "at", "type": "timestamp"}]
    df = _create(spark, {"elements": [{"at": "2031-01-02T03:04:05"}]}, {"fields": fields})
    assert "ExistingRDD" in _plan(df)


def test_config_placeholder_text_is_not_substituted(spark):
    # spark.sql would substitute ${...}; such strings keep the RDD path
    df = _create(spark, {"elements": [{"s": "${spark.app.name}"}]})
    assert df.collect()[0]["s"] == "${spark.app.name}"
