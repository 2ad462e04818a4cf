"""Ports of the reference's own unit-test cases
(reference: util/pipeline/FilterTest.java, select/SelectFunctionTest.java)
run through our Column compilers — the parity evidence that config
semantics survive the re-architecture.
"""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline_spark.compilers.filter_dsl import compile_filter
from pipeline_spark.compilers.select_fns import apply_select


def leaf_is(spark, value, dtype, op, literal):
    """Replicates FilterTest.testLeafCompare: does `value op literal` hold?"""
    schema = T.StructType([T.StructField("f", dtype, True)])
    df = spark.createDataFrame([(value,)], schema)
    cond = compile_filter({"key": "f", "op": op, "value": literal}, df)
    return df.filter(cond).count() == 1


def test_filter_config_and(spark):
    # FilterTest.testFilter:23-61
    df = spark.createDataFrame(
        [
            Row(stringField="stringValue", longField=100),
            Row(stringField="stringValue", longField=99),
            Row(stringField="stringValue_", longField=99),
            Row(stringField="stringValue_", longField=100),
        ]
    )
    cond = compile_filter(
        [
            {"key": "stringField", "op": "=", "value": "stringValue"},
            {"key": "longField", "op": ">=", "value": 100},
        ],
        df,
    )
    rows = df.filter(cond).collect()
    assert len(rows) == 1 and rows[0]["longField"] == 100


NUM = T.LongType()
DBL = T.DoubleType()
STR = T.StringType()


@pytest.mark.parametrize(
    "value,dtype,op,literal,expected",
    [
        # FilterTest.testLeafCompare number block (65-106)
        (1, NUM, "=", 1, True),
        (1, NUM, "!=", 1, False),
        (None, NUM, "!=", 1, False),
        (1, NUM, ">", 1, False),
        (1, NUM, ">=", 1, True),
        (10, NUM, ">", 1, True),
        (12.312, DBL, ">", 1, True),
        (2212310.12221, DBL, ">=", 1, True),
        (-10, NUM, ">", 1, False),
        (-10, NUM, ">=", 1, False),
        (1, NUM, "<", 1, False),
        (1, NUM, "<=", 1, True),
        (10, NUM, "<", 1, False),
        (10, NUM, "<=", 1, False),
        (-10, NUM, "<", 1, True),
        (-10, NUM, "<=", 1, True),
        # number in / not in (108-125)
        (1, NUM, "in", [1, 2, 3], True),
        (2, NUM, "in", [1, 2, 3], True),
        (3, NUM, "in", [1, 2, 3], True),
        (4, NUM, "in", [1, 2, 3], False),
        (-3, NUM, "in", [1, 2, 3], False),
        (-4.12, DBL, "in", [1, 2, 3], False),
        (1, NUM, "not in", [1, 2, 3], False),
        (-100, NUM, "not in", [1, 2, 3], True),
        # string block (127-149)
        ("a", STR, "=", "a", True),
        ("b", STR, "=", "a", False),
        ("a", STR, "!=", "a", False),
        ("b", STR, "!=", "a", True),
        ("a", STR, ">", "a", False),
        ("b", STR, ">", "a", True),
        ("a", STR, ">=", "a", True),
        ("b", STR, ">=", "a", True),
        ("a", STR, "<", "a", False),
        ("b", STR, "<", "a", False),
        ("a", STR, "<=", "a", True),
        ("b", STR, "<=", "a", False),
        # string in / not in (151-168)
        ("a", STR, "in", ["a", "b", "c"], True),
        ("d", STR, "in", ["a", "b", "c"], False),
        ("A", STR, "in", ["a", "b", "c"], False),
        ("a", STR, "not in", ["a", "b", "c"], False),
        ("dfa", STR, "not in", ["a", "b", "c"], True),
        # null block (170-177)
        (None, STR, "=", None, True),
        ("b", STR, "=", None, False),
        (None, STR, "!=", None, False),
        ("b", STR, "!=", None, True),
    ],
)
def test_leaf_compare(spark, value, dtype, op, literal, expected):
    assert leaf_is(spark, value, dtype, op, literal) is expected


@pytest.mark.parametrize(
    "value,op,literal,expected",
    [
        # FilterTest date block (179-205)
        (dt.date(2021, 8, 21), "=", "2021-08-21", True),
        (dt.date(2021, 8, 20), "=", "2021-08-21", False),
        (dt.date(2021, 8, 22), ">", "2021-08-21", True),
        (dt.date(2021, 8, 21), ">", "2021-08-21", False),
        (dt.date(2021, 8, 20), "<", "2021-08-21", True),
        (dt.date(2021, 8, 22), "<=", "2021-08-21", False),
        (dt.date(2021, 8, 21), ">=", "2021-08-21", True),
    ],
)
def test_leaf_compare_dates(spark, value, op, literal, expected):
    assert leaf_is(spark, value, T.DateType(), op, literal) is expected


@pytest.mark.parametrize(
    "value,op,literal,expected",
    [
        # FilterTest timestamp block (212-240)
        (dt.datetime(2021, 8, 21, 10, 30, 45), "=", "2021-08-21T10:30:45", True),
        (dt.datetime(2021, 8, 20, 10, 30, 45), "=", "2021-08-21T10:30:45", False),
        (dt.datetime(2021, 8, 22, 10, 30, 45), ">", "2021-08-21T10:30:45", True),
        (dt.datetime(2021, 8, 21, 10, 30, 45), ">=", "2021-08-21T10:30:45", True),
        (dt.datetime(2021, 8, 20, 10, 30, 45), "<", "2021-08-21T10:30:45", True),
        (dt.datetime(2021, 8, 22, 10, 30, 45), "<=", "2021-08-21T10:30:45", False),
    ],
)
def test_leaf_compare_timestamps(spark, value, op, literal, expected):
    assert leaf_is(spark, value, T.TimestampNTZType(), op, literal) is expected


def test_match_regex_with_slashes(spark):
    # FilterTest:760-778 — slashes are literal pattern characters; both
    # patterns must find() within the path string
    df = spark.createDataFrame([Row(field1="gs://mybucket/2024-11-11/myfile.pdf")])
    cond = compile_filter(
        [
            {"key": "field1", "op": "match", "value": "/2024-11-(0[1-9]|[12][0-9]|3[01])/"},
            {"key": "field1", "op": "match", "value": r"\.pdf$"},
        ],
        df,
    )
    assert df.filter(cond).count() == 1


def test_expression_filters(spark):
    # FilterTest:585-700 expression-leaf blocks
    df = spark.createDataFrame([Row(field1=10.0, field2=5.0, field3=1.0)])
    c1 = compile_filter({"expression": "(field1 / field2) - field3", "op": ">", "value": 0}, df)
    assert df.filter(c1).count() == 1
    c2 = compile_filter({"expression": "field1 - field2", "op": ">", "value": 0}, df)
    assert df.filter(c2).count() == 1

    ts = spark.createDataFrame(
        [
            Row(
                field1=dt.datetime(2024, 1, 1, 10, 0, 0),
                field2=dt.datetime(2024, 1, 1, 0, 0, 0),
            )
        ]
    )
    c3 = compile_filter(
        {"expression": "timestamp_diff_hour(field1, field2)", "op": "<", "value": 24}, ts
    )
    assert ts.filter(c3).count() == 1

    yr = spark.createDataFrame(
        [
            Row(
                field1=dt.datetime(2024, 12, 31, 0, 0, 0),
                field2=dt.datetime(2024, 1, 1, 0, 0, 0),
            )
        ]
    )
    c4 = compile_filter(
        {"expression": "timestamp_diff_day(field1, field2)", "op": "=", "value": 365}, yr
    )
    assert yr.filter(c4).count() == 1


def test_select_function_config(spark):
    """Trimmed port of SelectFunctionTest.test: the big select list with
    sequential binding, nested-field refs, struct/json nesting."""
    df = spark.createDataFrame(
        [
            Row(
                stringField="str",
                intField=32,
                longField=64,
                doubleField=0.64,
                nestedField=Row(stringField="123"),
            )
        ]
    )
    out = apply_select(
        df,
        [
            {"name": "longField"},
            {"name": "renameIntField", "field": "intField"},
            {"name": "constantStringField", "type": "string", "value": "constantStringValue"},
            {"name": "expressionField", "expression": "doubleField * intField / longField"},
            {"name": "hashField", "func": "hash", "field": "stringField"},
            {"name": "concatField", "func": "concat", "delimiter": " ",
             "fields": ["stringField", "intField", "longField"]},
            {"name": "intFieldFromNested", "field": "nestedField.stringField", "type": "int32"},
            {"name": "structField", "func": "struct", "fields": [
                {"name": "stringFieldA", "field": "stringField"},
                {"name": "innerStruct", "func": "struct", "fields": [
                    {"name": "intFieldA", "field": "intField"},
                ]},
            ]},
        ],
    )
    row = out.collect()[0]
    assert row["longField"] == 64
    assert row["renameIntField"] == 32
    assert row["constantStringField"] == "constantStringValue"
    assert abs(row["expressionField"] - 0.64 * 32 / 64) < 1e-12
    import hashlib

    assert row["hashField"] == hashlib.sha256(b"str").hexdigest()
    assert row["concatField"] == "str 32 64"
    assert row["intFieldFromNested"] == 123
    assert row["structField"]["stringFieldA"] == "str"
    assert row["structField"]["innerStruct"]["intFieldA"] == 32


def test_aggregation_transform_parity(spark):
    """Port of AggregationTransformTest.testAggregateGroupFields (the
    reference's own elements and aggregation configs; its assertions are
    commented out upstream, so expectations here are the hand-computed
    values the printed rows show).  Covers: global-group aggregation with
    multi-field first/argmin/array_agg, and the two-input grouped merge.
    Reference: module/transform/AggregationTransformTest.java:20-177."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    cfg = parse_config("""
sources:
  - name: create1
    module: create
    parameters:
      elements:
        - { stringField: a, intField: 1,  floatField: 0.15,  boolField: true,  timestampField: "2024-10-10T00:00:00Z" }
        - { stringField: b, intField: 2,  floatField: 1.15,  boolField: false, timestampField: "2024-10-20T00:00:00Z" }
        - { stringField: c, intField: 3,  floatField: 2.15,  boolField: true,  timestampField: "2024-10-30T00:00:00Z" }
        - { stringField: d, intField: 4,  floatField: 2.15,  boolField: false, timestampField: "2024-10-30T00:00:00Z" }
        - { stringField: e, intField: 5,  floatField: 4.15,  boolField: true,  timestampField: "2024-10-30T00:00:00Z" }
        - { stringField: f, intField: 6,  floatField: -5.15, boolField: false, timestampField: "2024-10-30T00:00:00Z" }
        - { stringField: g, intField: 7,  floatField: -6.15, boolField: true,  timestampField: "2024-10-30T00:00:00Z" }
        - { stringField: h, intField: 8,  floatField: -7.15, boolField: false, timestampField: "2024-10-30T00:00:00Z" }
        - { stringField: i, intField: 9,  floatField: -8.15, boolField: true,  timestampField: "2024-10-30T00:00:00Z" }
        - { stringField: j, intField: 10, floatField: 0.0,   boolField: false, timestampField: "2024-10-30T00:00:00Z" }
      schema:
        fields:
          - {name: stringField, type: string}
          - {name: intField, type: int64}
          - {name: floatField, type: float64}
          - {name: boolField, type: boolean}
          - {name: timestampField, type: timestamp}
    timestampAttribute: timestampField
  - name: create2
    module: create
    parameters:
      elements:
        - { stringField: a, longField: 1, doubleField: 0.15, timestampField: "2024-10-10T00:00:00Z" }
        - { stringField: b, longField: 2, doubleField: 1.15, timestampField: "2024-10-20T00:00:00Z" }
        - { stringField: c, longField: 3, doubleField: 2.15, timestampField: "2024-10-30T00:00:00Z" }
      schema:
        fields:
          - {name: stringField, type: string}
          - {name: longField, type: int64}
          - {name: doubleField, type: float64}
          - {name: timestampField, type: timestamp}
    timestampAttribute: timestampField
transforms:
  - name: aggregation1
    module: aggregation
    inputs: [create1]
    parameters:
      groupFields: []
      aggregations:
        - input: create1
          fields:
            - {name: count, op: count}
            - {name: sumInt, op: sum, field: intField}
            - {name: maxFloat, op: max, field: floatField}
            - {name: minFloat, op: min, field: floatField}
            - {name: firsts, op: first, fields: [stringField, intField, floatField]}
            - {name: argmaxString, op: argmax, field: stringField, comparingField: floatField}
            - {name: argminString, op: argmin, fields: [stringField, intField, boolField], comparingField: floatField}
            - {name: arrayAggSingle, op: array_agg, field: intField}
  - name: aggregation2
    module: aggregation
    inputs: [create1, create2]
    parameters:
      groupFields: [stringField]
      aggregations:
        - input: create1
          fields:
            - {name: count1, op: count}
            - {name: sum1, op: sum, field: floatField}
            - {name: max1, op: max, field: intField}
        - input: create2
          fields:
            - {name: count2, op: count}
            - {name: sum2, op: sum, field: doubleField}
            - {name: max2, op: max, field: longField}
""")
    outs = run_pipeline(spark, cfg)

    row = outs["aggregation1"].collect()[0]
    assert row["count"] == 10
    assert row["sumInt"] == 55
    assert abs(row["maxFloat"] - 4.15) < 1e-12
    assert abs(row["minFloat"] - (-8.15)) < 1e-12
    # first by event time: 2024-10-10 is unique → row 'a'
    assert row["firsts"]["stringField"] == "a"
    assert row["firsts"]["intField"] == 1
    # argmax/argmin on floatField: unique extremes 4.15 ('e') and -8.15 ('i')
    assert row["argmaxString"] == "e"
    assert row["argminString"]["stringField"] == "i"
    assert row["argminString"]["intField"] == 9
    assert row["argminString"]["boolField"] is True
    assert sorted(row["arrayAggSingle"]) == list(range(1, 11))

    rows2 = {r["stringField"]: r for r in outs["aggregation2"].collect()}
    assert len(rows2) == 10  # groups from BOTH inputs, name-union merged
    for k, long_v, double_v in (("a", 1, 0.15), ("b", 2, 1.15), ("c", 3, 2.15)):
        assert rows2[k]["count1"] == 1 and rows2[k]["count2"] == 1
        assert abs(rows2[k]["sum2"] - double_v) < 1e-12
        assert rows2[k]["max2"] == long_v
    # groups present only in create1: create2-side aggregates are empty
    assert rows2["d"]["count1"] == 1 and rows2["d"]["max1"] == 4
    assert rows2["d"]["max2"] is None


def test_select_transform_stateful_parity(spark):
    """Port of SelectTransformTest.testStatefulSelect (the reference's own
    config verbatim; its assertions are commented out upstream, so the
    expectations are hand-computed from the documented range semantics:
    count N → previous N rows inclusive, duration D → (ts-D, ts]).
    Covers: running sum/avg/min, duration ranges, windowed argmin,
    single- and multi-field array_agg, nested field paths, expressions
    over previously bound stateful outputs, and lag `field[k]` syntax.
    Reference: module/transform/SelectTransformTest.java:85-215."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    cfg = parse_config("""
sources:
  - name: create
    module: create
    timestampAttribute: field_ts
    parameters:
      type: element
      elements:
        - { field_string: string_value1, field_long: 10, field_ts: "2025-01-01T00:00:00Z",
            field_nested: { field_string: nested_string_value1, field_long: -10 } }
        - { field_string: string_value2, field_long: 20, field_ts: "2025-01-01T00:00:01Z",
            field_nested: { field_string: nested_string_value2, field_long: -20 } }
        - { field_string: string_value3, field_long: 30, field_ts: "2025-01-01T00:00:02Z",
            field_nested: { field_string: nested_string_value3, field_long: -30 } }
        - { field_string: string_value4, field_long: 40, field_ts: "2025-01-01T00:00:03Z",
            field_nested: { field_string: nested_string_value4, field_long: -40 } }
        - { field_string: string_value5, field_long: 50, field_ts: "2025-01-01T00:00:04Z",
            field_nested: { field_string: nested_string_value5, field_long: -50 } }
      schema:
        fields:
          - {name: field_string, type: string}
          - {name: field_long, type: int64}
          - {name: field_ts, type: timestamp}
          - name: field_nested
            type: record
            fields:
              - {name: field_string, type: string}
              - {name: field_long, type: int64}
transforms:
  - name: select
    module: select
    inputs: [create]
    parameters:
      select:
        - {name: field_long_sum_count3, func: sum, field: field_long, range: {count: 3}}
        - {name: field_long_sum_duration3, func: sum, field: field_long, range: {duration: 2}}
        - {name: field_long_avg_count3, func: avg, field: field_long, range: {count: 3}}
        - {name: field_long_min_count3, func: min, field: field_long, range: {count: 3}}
        - {name: field_long_argmin_count3, func: argmin, field: field_string,
           comparingField: field_long, range: {count: 3}}
        - {name: field_long_string_array_agg_count3, func: array_agg,
           fields: [field_long, field_string], range: {count: 3}}
        - {name: field_nested_long_sum_count3, func: sum, field: field_nested.field_long,
           range: {count: 3}}
        - {name: field_sum_long_sum_count3, expression: "field_long_sum_count3 * 2"}
        - {name: lag_long, func: lag, expression: "(field_long[2] - field_long[0]) / (2 * field_long[0])"}
        - {name: field_long_array_agg_count3, func: array_agg, field: field_long, range: {count: 3}}
""")
    outs = run_pipeline(spark, cfg)
    rows = sorted(outs["select"].collect(), key=lambda r: r["field_long_sum_count3"])
    assert len(rows) == 5

    assert [r["field_long_sum_count3"] for r in rows] == [10, 30, 60, 90, 120]
    assert [r["field_long_sum_duration3"] for r in rows] == [10, 30, 50, 70, 90]
    assert [r["field_long_avg_count3"] for r in rows] == [10.0, 15.0, 20.0, 30.0, 40.0]
    assert [r["field_long_min_count3"] for r in rows] == [10, 10, 10, 20, 30]
    assert [r["field_long_argmin_count3"] for r in rows] == [
        "string_value1", "string_value1", "string_value1", "string_value2", "string_value3",
    ]
    assert [r["field_nested_long_sum_count3"] for r in rows] == [-10, -30, -60, -90, -120]
    assert [r["field_sum_long_sum_count3"] for r in rows] == [20, 60, 120, 180, 240]
    lag = [r["lag_long"] for r in rows]
    assert lag[0] is None and lag[1] is None
    assert abs(lag[2] - (10 - 30) / 60) < 1e-12
    assert abs(lag[3] - (20 - 40) / 80) < 1e-12
    assert abs(lag[4] - (30 - 50) / 100) < 1e-12
    assert [r["field_long_array_agg_count3"] for r in rows] == [
        [10], [10, 20], [10, 20, 30], [20, 30, 40], [30, 40, 50],
    ]
    last_structs = rows[-1]["field_long_string_array_agg_count3"]
    assert [(s["field_long"], s["field_string"]) for s in last_structs] == [
        (30, "string_value3"), (40, "string_value4"), (50, "string_value5"),
    ]


def test_partition_transform_parity(spark):
    """Port of PartitionTransformTest.test1 (the reference's own config and
    assertions, which are active upstream): scalar-typed create elements
    become (sequence, timestamp, value) rows, two sources flatten into one
    partition input, and exclusive routing sends each row to its first
    matching partition.  Reference:
    module/transform/PartitionTransformTest.java:23-101."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    cfg = parse_config("""
sources:
  - name: create1
    module: create
    parameters: {type: int64, elements: [3, 0, 2, 1]}
    timestampAttribute: sequence
  - name: create2
    module: create
    parameters: {type: int64, elements: [5, 1, 4, 3]}
    timestampAttribute: sequence
transforms:
  - name: partition
    module: partition
    inputs: [create1, create2]
    parameters:
      exclusive: true
      partitions:
        - name: output1
          filter:
            - {key: value, op: in, value: [1, 2, 3]}
        - name: output2
          filter:
            - {key: value, op: in, value: [4, 5, 6]}
""")
    outs = run_pipeline(spark, cfg)

    vals1 = [r["value"] for r in outs["partition.output1"].collect()]
    assert len(vals1) == 5 and all(0 < v < 4 for v in vals1)
    vals2 = [r["value"] for r in outs["partition.output2"].collect()]
    assert len(vals2) == 2 and all(3 < v < 7 for v in vals2)
    assert [r["value"] for r in outs["partition.excluded"].collect()] == [0]


def test_filter_transform_parity(spark):
    """Port of FilterTransformTest.test (the reference's own config; its
    assertions are commented out upstream, so expectations follow the
    documented semantics): a json constant column iterated with
    struct-each + jsonpath sub-fields, flattened, then re-selected into
    nested constant/hash/struct shapes.  Reference:
    module/transform/FilterTransformTest.java:22-106."""
    import hashlib

    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    cfg = parse_config("""
sources:
  - name: create
    module: create
    timestampAttribute: sequence
    parameters:
      type: int64
      elements: [0, 1, 2, 3]
      select:
        - {name: sequence}
        - {name: data, type: json,
           value: '[{ "fieldA": "value1", "fieldB": "value2" },{ "fieldA": "value3", "fieldB": "value4" }]'}
        - name: message
          func: struct
          mode: repeated
          fields:
            - {name: field1, type: string, value: str1}
            - {name: field2, type: string, value: str2}
transforms:
  - name: filter
    module: filter
    inputs: [create]
    parameters:
      select:
        - name: events
          func: struct
          mode: repeated
          each: data
          fields:
            - {name: id, func: jsonpath, field: data, path: "$.fieldA"}
            - {name: description, func: jsonpath, field: data, path: "$.fieldB"}
      flattenField: events
  - name: filter2
    module: filter
    inputs: [filter]
    parameters:
      select:
        - {name: constantValue, type: string, value: "1234567890"}
        - {name: id, type: string, field: events.id}
        - name: events
          func: struct
          mode: repeated
          fields:
            - {name: name, type: string, value: events.description}
            - {name: uid, func: hash, text: "myevent#"}
            - name: properties
              func: struct
              fields:
                - name: key1
                  func: struct
                  fields:
                    - {name: name, field: events.id}
                - name: key2
                  func: struct
                  fields:
                    - {name: description, field: events.description}
""")
    outs = run_pipeline(spark, cfg)
    rows = outs["filter2"].collect()
    # 4 create elements × 2 json array entries
    assert len(rows) == 8
    uid = hashlib.sha256(b"myevent#").hexdigest()
    by_id = {}
    for r in rows:
        assert r["constantValue"] == "1234567890"
        assert len(r["events"]) == 1
        ev = r["events"][0]
        assert ev["name"] == "events.description"  # constant literal, not a ref
        assert ev["uid"] == uid
        assert ev["properties"]["key1"]["name"] == r["id"]
        by_id.setdefault(r["id"], ev["properties"]["key2"]["description"])
    assert by_id == {"value1": "value2", "value3": "value4"}


def test_beamsql_match_recognize_parity(spark):
    """Port of BeamSQLTransformTest.testMatchRecognize with the reference's
    SQL verbatim (WITH-CTE input, MEASURES with FIRST/PREV, alternation
    pattern, SUBSET).  Upstream assertions are commented out; expectations
    are hand-derived: per user the only match is rows 1-3 (A=cat A,
    B=cat B, then the D alternative wins because 300 > 200), so category_c
    and amount_c are NULL and category_d is row 3's 'C'.
    Reference: module/transform/BeamSQLTransformTest.java:166-279."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    elements = []
    for uid in ("a", "b"):
        for i, cat in enumerate("ABCDEFGHIJ"):
            elements.append(
                f'          - {{ user_id: {uid}, amount: {(i + 1) * 100}, '
                f'category: {cat}, timestamp: "2025-01-01T00:00:{i+1:02d}Z" }}'
            )
    cfg = parse_config("""
sources:
  - name: create
    module: create
    timestampAttribute: timestamp
    parameters:
      type: element
      elements:
""" + "\n".join(elements) + """
      schema:
        fields:
          - {name: user_id, type: string}
          - {name: amount, type: int64}
          - {name: category, type: string}
          - {name: timestamp, type: timestamp}
transforms:
  - name: beamsql1
    module: beamsql
    inputs: [create]
    parameters:
      sql: |
        WITH `Table` AS (
          SELECT
            user_id,
            CAST(amount AS DECIMAL) AS amount,
            category,
            `timestamp`
          FROM `create`
        )
        SELECT
          user_id,
          category_a,
          category_b,
          category_c,
          category_d,
          amount_a,
          amount_b,
          amount_c,
          amount_d,
          `timestamp`
        FROM
          `Table`
        MATCH_RECOGNIZE(
          PARTITION BY user_id
          ORDER BY `timestamp`
          MEASURES
            A.`timestamp` AS `timestamp`,
            A.category AS category_a,
            B.category AS category_b,
            C.category AS category_c,
            FIRST(D.category) AS category_d,
            A.amount AS amount_a,
            B.amount AS amount_b,
            C.amount AS amount_c,
            D.amount AS amount_d
          PATTERN (A B (D|C))
          SUBSET E = (A, B, C, D)
          DEFINE
            B AS category = 'B',
            D AS amount > PREV(D.amount, 1),
            C AS category = 'C'
        ) AS M
""")
    outs = run_pipeline(spark, cfg)
    rows = {r["user_id"]: r for r in outs["beamsql1"].collect()}
    assert set(rows) == {"a", "b"}
    for r in rows.values():
        assert (r["category_a"], r["category_b"], r["category_d"]) == ("A", "B", "C")
        assert r["category_c"] is None and r["amount_c"] is None
        assert (int(r["amount_a"]), int(r["amount_b"]), int(r["amount_d"])) == (100, 200, 300)
        assert r["timestamp"].second == 1


def test_template_utils_datetime_parity():
    """Port of TemplateUtilTest.testUtilsDatetime: the ``utils.datetime``
    template namespace — currentTimestamp with plus-amount, unit, and
    truncate-unit overloads, rendered through the FreeMarker-surface row
    templating.  Reference: util/TemplateUtil.java:24-313,
    util/TemplateUtilTest.java:13-32."""
    import datetime as dt

    from pipeline_spark.compilers.select_fns import render_row_template

    def micros(s):
        return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1e6

    now_micros = dt.datetime.now(dt.timezone.utc).timestamp() * 1e6

    out1 = render_row_template("${utils.datetime.currentTimestamp()}")({})
    assert abs(micros(out1) - now_micros) < 10_000_000

    out2 = render_row_template("${utils.datetime.currentTimestamp(1)}")({})
    assert 0 < micros(out2) - now_micros < 10_000_000 + 1_000_000

    out3 = render_row_template("${utils.datetime.currentTimestamp(1, 'DAYS')}")({})
    assert 0 < micros(out3) - now_micros < 10_000_000 + 1_000_000 * 86400

    out4 = render_row_template("${utils.datetime.currentTimestamp(1, 'DAYS', 'HOURS')}")({})
    parsed4 = dt.datetime.fromisoformat(out4.replace("Z", "+00:00"))
    assert parsed4.minute == 0 and parsed4.second == 0 and parsed4.microsecond == 0

    # formatTimestamp + bigtable reverse keys, same namespace
    out5 = render_row_template(
        "${utils.datetime.formatTimestamp(ts, 'yyyy-MM-dd')}"
    )({"ts": "2024-03-05T10:00:00Z"})
    assert out5 == "2024-03-05"
    out6 = render_row_template("${utils.bigtable.reverseTimestampMicros(0)}")({})
    assert out6 == str((1 << 63) - 1)


def test_expression_util_parity(spark):
    """Port of ExpressionUtilTest.testTimestampToDate / testTimestampDiff:
    timezone-offset day boundaries (JST 15:00 UTC rollover) and signed
    truncating diffs, evaluated through the Column expression compiler.
    Reference: util/ExpressionUtilTest.java:61-130."""
    import datetime as dt

    from pipeline_spark.compilers.expression import compile_expression, schema_resolver

    def micros(iso):
        return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e6

    def ev(expr, **cols):
        df = spark.createDataFrame(
            [tuple(float(v) for v in cols.values())],
            ", ".join(f"{k} double" for k in cols),
        )
        out = df.select(
            F.expr(compile_expression(expr, schema_resolver(df))).alias("r")
        ).collect()[0]["r"]
        return out

    epoch_day = dt.date(2023, 1, 15).toordinal() - dt.date(1970, 1, 1).toordinal()
    # 14:59:59.999Z at UTC+9 is still Jan 15 local
    assert ev("timestamp_to_date(a, b)", a=micros("2023-01-15T14:59:59.999Z"), b=9) == epoch_day
    # 15:00:00Z at UTC+9 rolls to Jan 16 local
    assert ev("timestamp_to_date(a, b)", a=micros("2023-01-15T15:00:00.000Z"), b=9) == epoch_day + 1

    assert ev(
        "timestamp_to_date(a, b) - timestamp_to_date(c, d)",
        a=micros("2023-01-15T15:00:00.000Z"), b=9,
        c=micros("2023-01-14T14:59:59.999Z"), d=9,
    ) == 2

    a = micros("2023-01-15T00:00:00.000Z")
    b = micros("2023-01-17T12:32:12.543Z")
    assert ev("timestamp_diff_millisecond(a,b)", a=a, b=b) == (a - b) / 1000
    assert ev("timestamp_diff_second(a,b)", a=a, b=b) == int((a - b) / 1e6)


def test_config_yaml_args_parity():
    """Port of ConfigTest.testYaml: a top-level ``args:`` block provides
    templating defaults, ``${args.*}`` references substitute (CLI args
    would override), and non-args ``${...}`` text passes through for
    row-level templates.  Reference: config/ConfigTest.java:12-62."""
    from pipeline_spark.config import parse_config

    cfg = parse_config("""
args:
  writeDisposition: WRITE_APPEND
  startTimestamp: "2025-01-01T00:00:00Z"
sources:
  - name: BigQueryInput
    module: bigquery
    parameters:
      query: |-
        SELECT
          *
        FROM
          `myproject:mydataset.mytable`
        WHERE
          timestamp > TIMESTAMP("${args.startTimestamp}")
      queryLocation: asia-northeast1
sinks:
  - name: BigQueryOutput
    module: bigquery
    inputs:
      - BigQueryInput
    parameters:
      table: "yourproject:yourrdataset.yourtable"
      writeDisposition: ${args.writeDisposition}
      createDisposition: CREATE_IF_NEEDED
      method: FILE_LOADS
      customGcsTempLocation: gs://mybucket/myobject
""")
    src, sink = cfg.sources[0], cfg.sinks[0]
    assert (src.name, src.module) == ("BigQueryInput", "bigquery")
    assert src.parameters["query"] == (
        "SELECT\n  *\nFROM\n  `myproject:mydataset.mytable`\n"
        'WHERE\n  timestamp > TIMESTAMP("2025-01-01T00:00:00Z")'
    )
    assert src.parameters["queryLocation"] == "asia-northeast1"
    assert (sink.name, sink.module) == ("BigQueryOutput", "bigquery")
    assert sink.parameters["writeDisposition"] == "WRITE_APPEND"
    assert sink.parameters["customGcsTempLocation"] == "gs://mybucket/myobject"

    # CLI args override the config block; unknown refs pass through
    cfg2 = parse_config(
        "sources:\n  - name: s\n    module: create\n"
        "    parameters: {v: '${args.mode}', keep: '${field}'}\n",
        args={"mode": "X"},
    )
    assert cfg2.sources[0].parameters["v"] == "X"
    assert cfg2.sources[0].parameters["keep"] == "${field}"


def test_config_tags_context_parity():
    """Port of ConfigTest.testTags: without a context nothing is ignored;
    with a context only matching-tagged modules run (untagged modules are
    ignored too).  Reference: config/ConfigTest.java:64-140."""
    from pipeline_spark.config import parse_config

    text = """
sources:
  - name: create
    module: create
    tags: [tag1]
    parameters: {from: 1, to: 10, type: int64}
transforms:
  - name: select
    module: select
    inputs: [create]
    tags: [tag2]
    parameters:
      select: [{name: value}]
sinks:
  - name: debug
    module: debug
    inputs: [select]
    parameters: {}
"""
    cfg = parse_config(text)
    assert [m.ignore for m in (*cfg.sources, *cfg.transforms, *cfg.sinks)] == [False] * 3

    cfg1 = parse_config(text, context="tag1")
    assert [m.ignore for m in (*cfg1.sources, *cfg1.transforms, *cfg1.sinks)] == [False, True, True]

    cfg2 = parse_config(text, context="tag2")
    assert [m.ignore for m in (*cfg2.sources, *cfg2.transforms, *cfg2.sinks)] == [True, False, True]


def test_create_source_parity(spark):
    """Port of CreateSourceTest.testCreateRange + testCreateElements:
    int64 range with select (rename/expression/hash — sequential binding
    over the generated `value` column), and typed element rows.
    Reference: module/source/CreateSourceTest.java:22-160."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    outs = run_pipeline(spark, parse_config("""
sources:
  - name: create
    module: create
    parameters:
      type: int64
      from: 1
      to: 100
      select:
        - {name: a, field: value}
        - {name: b, expression: "value % 10", type: int64}
        - {name: c, func: hash, field: b}
"""))
    rows = outs["create"].collect()
    assert len(rows) == 100
    for r in rows:
        assert r["b"] == r["a"] % 10
        assert isinstance(r["c"], str) and len(r["c"]) == 64  # sha256 hex

    outs2 = run_pipeline(spark, parse_config("""
sources:
  - name: create
    module: create
    timestampAttribute: timestampField
    parameters:
      type: element
      elements:
        - {stringField: a, intField: 1, floatField: 0.15, boolField: true,  timestampField: "2024-10-10T00:00:00Z"}
        - {stringField: b, intField: 2, floatField: 1.15, boolField: false, timestampField: "2024-10-20T00:00:00Z"}
        - {stringField: c, intField: 3, floatField: 2.15, boolField: true,  timestampField: "2024-10-30T00:00:00Z"}
      schema:
        fields:
          - {name: stringField, type: string}
          - {name: intField, type: int}
          - {name: floatField, type: float}
          - {name: boolField, type: boolean}
          - {name: timestampField, type: timestamp}
"""))
    df = outs2["create"]
    dtypes = dict(df.dtypes)
    assert dtypes == {
        "stringField": "string", "intField": "int", "floatField": "float",
        "boolField": "boolean", "timestampField": "timestamp",
    }
    rows2 = {r["stringField"]: r for r in df.collect()}
    assert rows2["a"]["boolField"] is True and rows2["b"]["boolField"] is False
    assert rows2["c"]["intField"] == 3
    assert abs(rows2["b"]["floatField"] - 1.15) < 1e-6
    assert rows2["a"]["timestampField"].strftime("%Y-%m-%d") == "2024-10-10"


def test_datetime_util_to_instant_parity(spark):
    """Port of DateTimeUtilTest.testToInstant: the timestamp string formats
    the reference's parser accepts, through the cast select function.
    Reference: util/DateTimeUtilTest.java:134-148."""
    from pipeline_spark.compilers.select_fns import apply_select

    vals = [
        ("1970-01-01T00:00:00.000Z", 0),
        ("1970-01-01 00:00:00", 0),
        ("19700101", 0),
        ("1970-01-01", 0),
        ("1970/01/01", 0),
        ("1970-01-01T00:00:00+0900", -3600_000 * 9),
        ("1970-01-01T00:00:00-0900", 3600_000 * 9),
        ("1970-01-01T00:00:00.000000+0900", -3600_000 * 9),
        ("1970-01-01T00:00:00.123000+0900", -3600_000 * 9 + 123),
    ]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame([(s,) for s, _ in vals], "s string")
    out = apply_select(df, [{"name": "ts", "field": "s", "type": "timestamp"},
                            {"name": "s"}], None)
    got = {r["s"]: r["ts"] for r in out.collect()}
    import datetime as dt

    for s, expected_millis in vals:
        ts = got[s].replace(tzinfo=dt.timezone.utc)
        assert ts.timestamp() * 1000 == expected_millis, (s, ts)


def test_select_function_combined_config(spark):
    """The reference's combined SelectFunction config — pass/rename/
    constant/expression/hash(+fields,size)/current_timestamp/
    event_timestamp/concat/nested-field cast redefinition/struct
    (repeated, nested, text template)/each/json/bytes_encode+decode in
    ONE select, with sequential binding.  Assertions mirror the Java
    test's.  Reference: util/pipeline/select/SelectFunctionTest.java:15-168."""
    import json as _json

    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    outs = run_pipeline(spark, parse_config("""
sources:
  - name: create
    module: create
    timestampAttribute: eventTs
    parameters:
      elements:
        - { stringField: stringValue, intField: 32, longField: 10,
            floatField: -5.5, doubleField: 10.10, enumField: b,
            timestampField: "2024-08-30T00:00:00Z",
            eventTs: "2024-01-01T00:00:00Z",
            nestedField: { stringField: "100" },
            arrayNestedField: [ { stringField: Z } ] }
      schema:
        fields:
          - {name: stringField, type: string}
          - {name: intField, type: int32}
          - {name: longField, type: int64}
          - {name: floatField, type: float32}
          - {name: doubleField, type: float64}
          - {name: enumField, type: string}
          - {name: timestampField, type: timestamp}
          - {name: eventTs, type: timestamp}
          - {name: nestedField, type: record, fields: [{name: stringField, type: string}]}
          - {name: arrayNestedField, type: record, mode: repeated,
             fields: [{name: stringField, type: string}]}
transforms:
  - name: select
    module: select
    inputs: [create]
    timestampAttribute: eventTs
    parameters:
      select:
        - { name: longField }
        - { name: renameIntField, field: intField }
        - { name: constantStringField, type: string, value: constantStringValue }
        - { name: expressionField, expression: "doubleField * intField / longField" }
        - { name: hashField, func: hash, field: stringField }
        - { name: hashArrayField, func: hash, fields: [stringField, intField, longField], size: 32 }
        - { name: currentTimestampField, func: current_timestamp }
        - { name: eventTimestampField, func: event_timestamp }
        - { name: concatField, func: concat, delimiter: " ", fields: [stringField, intField, longField] }
        - { name: intField, field: nestedField.stringField, type: int32 }
        - { name: structField, func: struct, mode: repeated, fields: [
            { name: enumField },
            { name: stringFieldA, field: stringField },
            { name: nestedStructField, func: struct, fields: [
              { name: stringFieldA, field: stringField } ] } ] }
        - { name: structEachField, each: arrayNestedField, fields: [
            { name: enumField },
            { name: stringFieldA, field: stringField },
            { name: nestedStringField, field: arrayNestedField.stringField } ] }
        - { name: jsonField, func: json, fields: [
            { name: enumField },
            { name: stringFieldA, field: stringField },
            { name: longFieldA, field: longField },
            { name: nestedStructField, func: struct, fields: [
              { name: enumField },
              { name: doubleFieldA, field: doubleField },
              { name: timestampField } ] } ] }
        - { name: bytesEncodedLongField, func: bytes_encode, field: longField }
        - { name: bytesDecodedLongField, func: bytes_decode, field: bytesEncodedLongField, type: int64 }
"""))
    r = outs["select"].collect()[0]
    assert r["longField"] == 10
    assert r["renameIntField"] == 32
    assert r["constantStringField"] == "constantStringValue"
    assert abs(r["expressionField"] - 32.32) < 1e-9
    assert r["hashField"] is not None and r["hashField"] != ""
    assert r["hashArrayField"] is not None
    assert r["currentTimestampField"] is not None
    assert str(r["eventTimestampField"]).startswith("2024-01-01")
    assert r["concatField"] == "stringValue 32 10"
    assert r["intField"] == 100  # redefined from nestedField.stringField
    assert r["structField"][0]["stringFieldA"] == "stringValue"
    assert r["structField"][0]["nestedStructField"]["stringFieldA"] == "stringValue"
    assert r["structEachField"][0]["nestedStringField"] == "Z"
    j = _json.loads(r["jsonField"])
    assert j["stringFieldA"] == "stringValue"
    assert j["nestedStructField"]["enumField"] == "b"
    assert str(j["nestedStructField"]["timestampField"]).startswith("2024-08-30")
    assert r["bytesDecodedLongField"] == 10


def test_unnest_transform_legacy_path_prefix(spark):
    """Port of UnnestTransformTest.testUnnestRow: path=children +
    prefix=true explodes the array, keeps sibling fields, expands struct
    elements as children_-prefixed columns, and preserves nested
    grandchild structs/arrays untouched.  2 rows x 2 children = 4 out.
    Reference: module/transform/UnnestTransformTest.java:27-73."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    outs = run_pipeline(spark, parse_config("""
sources:
  - name: rowInput
    module: create
    parameters:
      elements:
        - &row
          stringField: stringValue
          children:
            - &child
              cstringField: cstringValue
              grandchild: { gcstringField: gcstringValue }
              grandchildren:
                - { gcstringField: gcstringValue }
                - { gcstringField: gcstringValue }
            - *child
        - *row
      schema:
        fields:
          - {name: stringField, type: string}
          - name: children
            type: record
            mode: repeated
            fields:
              - {name: cstringField, type: string}
              - {name: grandchild, type: record,
                 fields: [{name: gcstringField, type: string}]}
              - {name: grandchildren, type: record, mode: repeated,
                 fields: [{name: gcstringField, type: string}]}
transforms:
  - name: unnest
    module: unnest
    inputs: [rowInput]
    parameters:
      path: children
      prefix: true
"""))
    rows = outs["unnest"].collect()
    assert len(rows) == 4
    for row in rows:
        assert row["stringField"] == "stringValue"
        assert row["children_cstringField"] == "cstringValue"
        assert row["children_grandchild"]["gcstringField"] == "gcstringValue"
        assert len(row["children_grandchildren"]) == 2
        for gc in row["children_grandchildren"]:
            assert gc["gcstringField"] == "gcstringValue"


def test_query_unnest_cte_join_parity(spark):
    """Port of QueryTest.testSingleQuery: the embedded Calcite Query's
    SQL shape — a CTE aggregating over UNNEST of a nested repeated field
    with the tz-aware CURRENT_DATE_ UDF, LEFT JOINed to a second input
    with a CAST projection — through the sql module (UNNEST rewrites to
    LATERAL VIEW explode).  Reference: util/pipeline/QueryTest.java:14-111."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    outs = run_pipeline(spark, parse_config("""
sources:
  - name: TestTable
    module: create
    parameters:
      elements:
        - stringField: a
          longField: 1
          doubleField: 10.0
          nestedField:
            - {sField: a, lField: 1, dField: 10.0}
            - {sField: a, lField: 2, dField: 10.0}
            - {sField: a, lField: 3, dField: 10.0}
      schema:
        fields:
          - {name: stringField, type: string}
          - {name: longField, type: int64}
          - {name: doubleField, type: float64}
          - name: nestedField
            type: record
            mode: repeated
            fields:
              - {name: sField, type: string}
              - {name: lField, type: int64}
              - {name: dField, type: float64}
  - name: SubTestTable
    module: create
    parameters:
      elements:
        - {stringField: a, llField: 1, ddField: 10.0}
      schema:
        fields:
          - {name: stringField, type: string}
          - {name: llField, type: int64}
          - {name: ddField, type: float64}
transforms:
  - name: q
    module: sql
    inputs: [TestTable, SubTestTable]
    parameters:
      sql: |
        WITH Source AS (
          SELECT
            stringField,
            SUM(nn.lField) AS l,
            CURRENT_DATE_('Asia/Tokyo') AS cdate
          FROM
            TestTable, UNNEST(nestedField) AS nn
          GROUP BY
            stringField
        )
        SELECT
          Source.*,
          CAST(SubTestTable.llField AS STRING) AS ss,
          SubTestTable.ddField
        FROM
          Source
        LEFT JOIN
          SubTestTable
        ON
          Source.stringField = SubTestTable.stringField
"""))
    rows = outs["q"].collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["stringField"] == "a"
    assert r["l"] == 6  # SUM over the UNNESTed lField values 1+2+3
    assert r["ss"] == "1" and r["ddField"] == 10.0
    assert r["cdate"] is not None  # tz-aware date resolved


def test_select_stateful_ranges_and_rebinding_parity(spark):
    """Port of SelectTest.testStatefulAggregate's select list: unbounded
    running aggregates (no range), count ranges with offsets, the `last`
    select function, and a windowed function OVER a previously computed
    windowed column (maxAvgLongField — sequential binding inside the
    stateful compiler).  Reference: util/pipeline/select/SelectTest.java:64-158."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    outs = run_pipeline(spark, parse_config("""
sources:
  - name: create
    module: create
    timestampAttribute: ts
    parameters:
      elements:
        - {k: a, longField: 10, s: s1, ts: "2025-01-01T00:00:00Z"}
        - {k: a, longField: 20, s: s2, ts: "2025-01-01T00:00:01Z"}
        - {k: a, longField: 30, s: s3, ts: "2025-01-01T00:00:02Z"}
        - {k: a, longField: 40, s: s4, ts: "2025-01-01T00:00:03Z"}
        - {k: a, longField: 50, s: s5, ts: "2025-01-01T00:00:04Z"}
        - {k: a, longField: 60, s: s6, ts: "2025-01-01T00:00:05Z"}
      schema:
        fields:
          - {name: k, type: string}
          - {name: longField, type: int64}
          - {name: s, type: string}
          - {name: ts, type: timestamp}
transforms:
  - name: sel
    module: select
    inputs: [create]
    timestampAttribute: ts
    parameters:
      groupFields: [k]
      select:
        - {name: longField}
        - {name: sumLongField, func: sum, field: longField}
        - {name: sumLongCount3, func: sum, field: longField, range: {count: 3}}
        - {name: minLongOff, func: min, field: longField, range: {count: 3, offset: 1}}
        - {name: avgLongOff, func: avg, field: longField, range: {count: 5, offset: 3}}
        - {name: lastS, func: last, field: s}
        - {name: maxAvgLongField, func: max, field: avgLongOff}
"""))
    rows = sorted(outs["sel"].collect(), key=lambda r: r["longField"])
    # unbounded running sum
    assert [r["sumLongField"] for r in rows] == [10, 30, 60, 100, 150, 210]
    # trailing count-3 sum
    assert [r["sumLongCount3"] for r in rows] == [10, 30, 60, 90, 120, 150]
    # count 3 offset 1: rows [i-3, i-1]
    assert [r["minLongOff"] for r in rows] == [None, 10, 10, 10, 20, 30]
    # count 5 offset 3: rows [i-7, i-3]
    assert [r["avgLongOff"] for r in rows] == [None, None, None, 10.0, 15.0, 20.0]
    # running last of s = each row's own value
    assert [r["lastS"] for r in rows] == ["s1", "s2", "s3", "s4", "s5", "s6"]
    # windowed max OVER the computed windowed avg (sequential binding)
    assert [r["maxAvgLongField"] for r in rows] == [None, None, None, 10.0, 15.0, 20.0]


# --------------------------------------------------------------------------
# JdbcUtilTest.java:229-516 — dialect write-statement generation: the
# expected statement strings are copied verbatim from the reference test.


class TestJdbcCreateStatement:
    COLS = ["id", "name", "age", "created_at"]
    TS = frozenset({"created_at"})

    def _stmt(self, op, db, keys=None):
        from pipeline_spark.sinks.jdbc import create_statement

        return create_statement("people", self.COLS, op, db, keys, self.TS)

    def test_mysql_insert(self):
        assert self._stmt("INSERT", "MYSQL") == (
            "INSERT INTO people (id,name,age,created_at) VALUES (?,?,?,?)"
        )

    def test_mysql_insert_or_update(self):
        assert self._stmt("INSERT_OR_UPDATE", "MYSQL", ["id"]) == (
            "INSERT INTO people (id,name,age,created_at) VALUES (?,?,?,?)"
            " ON DUPLICATE KEY UPDATE "
            "`name` = VALUES(`name`),"
            "`age` = VALUES(`age`),"
            "`created_at` = VALUES(`created_at`)"
        )

    def test_mysql_insert_or_donothing(self):
        assert self._stmt("INSERT_OR_DONOTHING", "MYSQL", ["id"]) == (
            "INSERT INTO people (id,name,age,created_at) VALUES (?,?,?,?)"
            " ON DUPLICATE KEY UPDATE "
            "`id` = VALUES(`id`)"
        )

    def test_postgresql_insert(self):
        assert self._stmt("INSERT", "POSTGRESQL") == (
            "INSERT INTO people (id,name,age,created_at)"
            " VALUES (?,?,?,?::timestamp)"
        )

    def test_postgresql_insert_or_update(self):
        assert self._stmt("INSERT_OR_UPDATE", "POSTGRESQL", ["id"]) == (
            "MERGE INTO people "
            "USING (VALUES (?,?,?,?::timestamp)) AS item (id,name,age,"
            "created_at) ON item.id = people.id"
            " WHEN MATCHED THEN"
            " UPDATE SET "
            "name = item.name,"
            "age = item.age,"
            "created_at = item.created_at"
            " WHEN NOT MATCHED THEN"
            " INSERT (id,name,age,created_at)"
            " VALUES (item.id,item.name,item.age,item.created_at)"
        )

    def test_postgresql_insert_or_donothing(self):
        assert self._stmt("INSERT_OR_DONOTHING", "POSTGRESQL", ["id"]) == (
            "MERGE INTO people "
            "USING (VALUES (?,?,?,?::timestamp)) AS item (id,name,age,"
            "created_at) ON item.id = people.id"
            " WHEN MATCHED THEN"
            " DO NOTHING"
            " WHEN NOT MATCHED THEN"
            " INSERT (id,name,age,created_at)"
            " VALUES (item.id,item.name,item.age,item.created_at)"
        )

    def test_sqlserver_insert_and_rejections(self):
        assert self._stmt("INSERT", "SQLSERVER") == (
            "INSERT INTO people (id,name,age,created_at) VALUES (?,?,?,?)"
        )
        with pytest.raises(ValueError, match="SQLServer does not support"):
            self._stmt("INSERT_OR_UPDATE", "SQLSERVER", ["id"])
        with pytest.raises(ValueError, match="SQLServer does not support"):
            self._stmt("INSERT_OR_DONOTHING", "SQLSERVER", ["id"])

    def test_h2_insert_merge_and_rejection(self):
        assert self._stmt("INSERT", "H2") == (
            "INSERT INTO people (id,name,age,created_at) VALUES (?,?,?,?)"
        )
        assert self._stmt("INSERT_OR_UPDATE", "H2", ["id"]) == (
            "MERGE INTO people (id,name,age,created_at) KEY (id)"
            " VALUES (?,?,?,?)"
        )
        with pytest.raises(ValueError, match="H2 does not support"):
            self._stmt("INSERT_OR_DONOTHING", "H2", ["id"])


def test_partition_nested_filter_constant_select(spark):
    """PartitionTest.java:15-63 — a partition whose filter references a
    NESTED field path and whose select emits a passthrough + a typed
    constant: the row with nestedField.stringField = "a" (non-empty)
    routes to partition1 carrying stringField="" and longField=1."""
    from pyspark.sql import Row

    from pipeline_spark.operators.partition import partition_transform
    from pipeline_spark.registry import ModuleContext

    df = spark.createDataFrame(
        [Row(stringField="", nestedField=Row(stringField="a"))]
    )
    outs = partition_transform(
        ModuleContext(
            spark=spark,
            name="p",
            params={
                "partitions": [
                    {
                        "name": "partition1",
                        "filters": [
                            {"key": "nestedField.stringField",
                             "op": "!=", "value": ""}
                        ],
                        "select": [
                            {"name": "stringField"},
                            {"name": "longField", "value": 1,
                             "type": "int64"},
                        ],
                    }
                ]
            },
            inputs=[df],
            input_names=["in"],
            side_inputs={},
        )
    )
    rows = outs["partition1"].collect()
    assert len(rows) == 1
    assert rows[0]["stringField"] == ""
    assert rows[0]["longField"] == 1
    assert outs["partition1"].schema["longField"].dataType.simpleString() == "bigint"


def test_uuid_sequential_binding_single_evaluation(spark):
    """r12 (review find): a later select referencing a uuid output by
    name must see THE SAME value — a single projection would inline the
    nondeterministic expression into both slots and evaluate it twice
    (SelectFunction.java sequential binding binds the VALUE once)."""
    from pipeline_spark.compilers.select_fns import apply_select

    df = spark.createDataFrame([(i,) for i in range(50)], "a long")
    out = apply_select(df, [
        {"name": "id", "func": "uuid"},
        {"name": "id2", "field": "id"},
        {"name": "a", "field": "a"},
    ]).collect()
    assert all(r["id"] == r["id2"] for r in out)
    assert len({r["id"] for r in out}) == 50  # still per-row random


def test_struct_fields_see_bound_outputs(spark):
    """r12 (review find): nested struct/json/map field lists compile
    with the OUTER sequential bindings — a sub-field referencing an
    earlier computed output gets the computed value, not a stale
    physical column of the same name."""
    from pipeline_spark.compilers.select_fns import apply_select

    df = spark.createDataFrame([(3, 1.0)], "a long, x double")
    out = apply_select(df, [
        {"name": "x", "func": "expression", "expression": "a * 2"},
        {"name": "s", "func": "struct", "fields": [{"name": "x"}]},
        {"name": "j", "func": "json", "fields": [{"name": "x"}]},
    ]).collect()[0]
    assert out["x"] == 6.0
    assert out["s"]["x"] == 6.0, "struct captured the stale physical x"
    assert '"x":6' in out["j"].replace(" ", "")


def test_expression_bound_timestamp_coercion(spark):
    """r12 (review find): a BOUND timestamp column in an expression must
    coerce to epoch MICROS like a physical one (a plain double cast
    yields SECONDS — silent 1e6 skew in any mixed arithmetic)."""
    import datetime as dt

    from pipeline_spark.compilers.select_fns import apply_select

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))],
        "t1 timestamp, t2 timestamp",
    )
    out = apply_select(df, [
        {"name": "t1b", "field": "t1"},
        {"name": "diff", "func": "expression", "expression": "t2 - t1b"},
    ]).collect()[0]
    assert out["diff"] == 86400 * 1_000_000  # micros, not seconds


def test_nullif_condition_sees_bound_outputs(spark):
    """r13 (VERDICT r12 ask #5): nullif's condition variables resolve
    against prior select outputs (Nullif.java:56-64 looks them up in the
    cumulative inputFields list that SelectFunction.java:64-87 threads
    through the select chain), not just physical df columns."""
    from pipeline_spark.compilers.select_fns import apply_select

    df = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "a long, v double")
    out = apply_select(df, [
        {"name": "flag", "func": "expression", "expression": "a * 2"},
        {"name": "v", "func": "nullif",
         "condition": {"key": "flag", "op": ">=", "value": 4}},
        {"name": "a", "field": "a"},
    ]).collect()
    by_a = {r["a"]: r["v"] for r in out}
    assert by_a == {1: 10.0, 2: None, 3: None}


def test_nullif_bound_output_shadows_physical_column(spark):
    """A prior output that REUSES a physical column name shadows it in
    the nullif condition — sequential binding, the later function sees
    the computed value (SelectFunction.java:64-87)."""
    from pipeline_spark.compilers.select_fns import apply_select

    df = spark.createDataFrame([(1, "x"), (5, "y")], "a long, s string")
    out = apply_select(df, [
        # recompute `a` so the physical a=1 row now carries a=100
        {"name": "a", "func": "expression", "expression": "a * 100"},
        {"name": "s", "func": "nullif",
         "condition": {"key": "a", "op": ">", "value": 300}},
    ]).collect()
    by_a = {r["a"]: r["s"] for r in out}
    assert by_a == {100.0: "x", 500.0: None}


def test_nullif_condition_expression_leaf_on_bound(spark):
    """Expression-leaf conditions also see bound outputs (the resolver
    already takes extras; Filter.java:419-466 evaluates as double)."""
    from pipeline_spark.compilers.select_fns import apply_select

    df = spark.createDataFrame([(2.0,), (4.0,)], "x double")
    out = apply_select(df, [
        {"name": "y", "func": "expression", "expression": "x + 1"},
        {"name": "x", "func": "nullif", "field": "x",
         "condition": {"expression": "y * 2", "op": ">", "value": 7}},
    ]).collect()
    vals = sorted((r["y"], r["x"]) for r in out)
    assert vals == [(3.0, 2.0), (5.0, None)]


def test_switch_condition_sees_bound_outputs(spark):
    """switch cases share the same Filter machinery — their conditions
    resolve against prior outputs too."""
    from pipeline_spark.compilers.select_fns import apply_select

    df = spark.createDataFrame([(1,), (2,)], "a long")
    out = apply_select(df, [
        {"name": "b", "func": "expression", "expression": "a * 10"},
        {"name": "label", "func": "switch", "cases": [
            {"when": {"key": "b", "op": ">=", "value": 20}, "then": "big"},
        ], "default": "small"},
    ]).collect()
    assert {r["b"]: r["label"] for r in out} == {10.0: "small", 20.0: "big"}


def test_nullif_unknown_condition_variable_raises(spark):
    """Nullif.of throws on a condition variable missing from inputFields
    (Nullif.java:58-61); our compiler must fail loudly, not bind NULL."""
    import pytest

    from pipeline_spark.compilers.select_fns import apply_select

    df = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(Exception, match="unknown field"):
        apply_select(df, [
            {"name": "a", "func": "nullif",
             "condition": {"key": "nope", "op": "=", "value": 1}},
        ]).collect()
