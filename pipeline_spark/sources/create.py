"""`create` source: inline elements / typed sequences / streaming rate.

Reference: module/source/CreateSource.java:34-673 — inline ``elements``
JSON array; typed sequences ``from``/``to``/``interval`` for
int/long/date/timestamp; streaming ``rate``/``rateUnit`` generator;
optional ``select`` + ``flattenField`` post-processing; ``splitSize``
parallelism.

Spark mapping: elements become a JVM LocalRelation
(functions/localframe.py; ``spark.createDataFrame`` where they cannot be
spelled as SQL values); ``spark.range`` + casts for sequences;
``format("rate")`` for the streaming generator.
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline_spark.compilers.select_fns import apply_select, spark_type
from pipeline_spark.functions.localframe import values_frame
from pipeline_spark.registry import KIND_SOURCE, ModuleContext, module


def build_schema(fields: list[dict[str, Any]]) -> T.StructType:
    """Config schema (reference vocabulary, SURVEY §1.2) → StructType.

    Field modes nullable/required/repeated (reference:
    Schema.Mode Schema.java:1190-1206); ``mode: repeated`` wraps in ArrayType.
    """
    out = []
    for f in fields:
        name = f["name"]
        ftype = str(f.get("type", "string")).lower()
        mode = str(f.get("mode", "nullable")).lower()
        if ftype in ("element", "struct", "record", "row"):
            inner: T.DataType = build_schema(f.get("fields", []))
        elif ftype == "array":
            elem = f.get("arrayValueType") or f.get("valueType", "string")
            inner = T.ArrayType(spark_type(elem))
        elif ftype == "map":
            inner = T.MapType(T.StringType(), spark_type(f.get("valueType", "string")))
        elif ftype == "enumeration":
            inner = T.StringType()
        else:
            inner = spark_type(ftype)
        if mode == "repeated":
            inner = T.ArrayType(inner)
        out.append(T.StructField(name, inner, nullable=(mode != "required")))
    return T.StructType(out)


def _coerce(value: Any, dtype: T.DataType) -> Any:
    if value is None:
        return None
    if isinstance(dtype, T.TimestampType):
        if isinstance(value, str):
            return dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
        return value
    if isinstance(dtype, T.DateType):
        if isinstance(value, str):
            return dt.date.fromisoformat(value)
        return value
    if isinstance(dtype, T.ArrayType):
        return [_coerce(v, dtype.elementType) for v in value]
    if isinstance(dtype, T.StructType):
        return tuple(_coerce(value.get(f.name), f.dataType) for f in dtype.fields)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(value)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(value)
    return value


@module("create", kind=KIND_SOURCE)
def create_source(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    schema_cfg = ctx.config.get("schema") or p.get("schema")
    elements = p.get("elements")

    if elements is not None:
        if elements and not isinstance(elements[0], dict):
            # scalar element list: the reference wraps each value in a
            # (sequence, timestamp, value) row with `value` typed by the
            # ``type`` parameter (CreateSource.java:494-503 element schema,
            # 570-596 parsing); timestamp is the Beam element timestamp,
            # which Create.of leaves at the epoch minimum — epoch 0 here.
            vtype = spark_type(str(p.get("type", "string")).lower())
            schema = T.StructType(
                [
                    T.StructField("sequence", T.LongType(), False),
                    T.StructField("timestamp", T.TimestampType(), False),
                    T.StructField("value", vtype, True),
                ]
            )
            epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
            rows = [
                (i, epoch, _coerce(v, vtype)) for i, v in enumerate(elements)
            ]
        elif schema_cfg:
            fields = schema_cfg.get("fields") if isinstance(schema_cfg, dict) else schema_cfg
            schema = build_schema(fields)
            rows = [
                tuple(_coerce(e.get(f.name), f.dataType) for f in schema.fields)
                for e in elements
            ]
        else:
            rows, schema = elements, None
        df = values_frame(ctx.spark, rows, schema)
        if df is None:
            df = ctx.spark.createDataFrame(rows, schema)
    elif "from" in p or "to" in p:
        start = int(p.get("from", 0))
        stop = int(p["to"])
        interval = int(p.get("interval", 1))
        split = int(p.get("splitSize", 0)) or None
        df = ctx.spark.range(start, stop + 1, interval, numPartitions=split)
        seq_type = str(p.get("type", "long")).lower()
        if seq_type in ("date",):
            df = df.select(F.date_add(F.lit("1970-01-01").cast("date"), F.col("id").cast("int")).alias("value"))
        elif seq_type in ("timestamp", "datetime"):
            df = df.select(F.timestamp_seconds(F.col("id")).alias("value"))
        else:
            df = df.select(F.col("id").cast(spark_type(seq_type)).alias("value"))
    elif p.get("rate") is not None:
        rate = int(p["rate"])
        df = ctx.spark.readStream.format("rate").option("rowsPerSecond", rate).load()
    else:
        raise ValueError("create source requires elements, from/to, or rate")

    if p.get("select"):
        df = apply_select(df, p["select"], ctx.config.get("timestampAttribute"))
    if p.get("flattenField"):
        from pipeline_spark.operators.unnest import flatten_field

        df = flatten_field(df, p["flattenField"])
    return {"": df}
