"""Driver-side rows as a JVM LocalRelation.

Rows the driver already holds — metadata-scale lookup inputs (file ->
fill values, row-id bases, per-file sequence numbers, decoded DV
positions), the ``create`` source's inline ``elements``, empty results —
build as a SQL VALUES LocalRelation: the rows ship to the JVM in one
``spark.sql`` round-trip, the plan is a LocalTableScan, a broadcast build
over it needs no Spark job and executing it starts no Python worker.
``spark.createDataFrame(list)`` instead pickles the rows into an RDD that
a Python ``map`` re-serializes in ``defaultParallelism`` tasks.

``schema`` is a DDL string or a StructType:

* a DDL string declares CAST targets: each value is spelled as SQL and
  cast to its column's type (lexical partition values such as '1.50'
  into a decimal column).  A column is nullable only where one of its
  values is NULL.  createDataFrame makes every DDL column nullable, but
  the lookup joins built on these frames are planned on the narrower
  nullability: forcing it cost perfbench ``text_lakehouse`` about 15%
  more ``run_cpu_s``;
* a StructType promises what ``spark.createDataFrame(rows, schema)``
  gives, nullability included: rows pass PySpark's own type verifier
  first, and only atomic types are spelled.  ``schema=None`` infers the
  StructType from dict rows exactly as ``spark.createDataFrame(rows)``
  does.

Rows that cannot be spelled take the RDD path: more than
``_VALUES_MAX_ROWS`` rows, naive datetimes (createDataFrame reads them in
the SYSTEM timezone, a SQL literal in the session one), nested values,
``Decimal`` values, and rows the verifier rejects (createDataFrame then
raises its own error).  An empty frame is a LocalRelation of the exact
schema, built on the JVM.
"""
from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pipeline_spark.functions.sqltext import sql_lit

# above this the VALUES text gets parser-hostile (a 131k-position DV
# frame would be ~15 MB of SQL); the RDD path ships pickled bytes
_VALUES_MAX_ROWS = 2048

# the StructType field types spelled as VALUES; any other (nested,
# timestamp_ntz, char/varchar, ...) takes the RDD path
_SPELLED = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.BinaryType, T.DateType,
    T.TimestampType, T.DecimalType,
)


def _sql_value(v, typ: str = "") -> str:
    """Spell one Python scalar as SQL able to CAST losslessly to the
    column type ``typ``; raises ValueError for values we refuse to
    spell (the caller falls back to the RDD path)."""
    # an aware datetime is an instant.  A naive one coerces through the
    # SYSTEM timezone in createDataFrame, and its inferred column type
    # follows spark.sql.timestampType — it keeps the RDD path
    if isinstance(v, _dt.datetime) and (v.tzinfo is None or typ != "timestamp"):
        raise ValueError("only aware datetimes into timestamp columns")
    return sql_lit(v)


def _split_ddl(schema: str) -> list[tuple[str, str]]:
    """'name type, name type' -> [(name, type)], depth-aware for
    decimal(10,2)/struct<...> type arguments."""
    parts, depth, cur = [], 0, []
    for ch in schema:
        if ch in "(<[":
            depth += 1
        elif ch in ")>]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    out = []
    for p in parts:
        p = p.strip()
        name, typ = p.split(None, 1)
        out.append((name.strip("`"), typ.strip()))
    return out


def _values_sql(rows, schema: str | T.StructType) -> str | None:
    try:
        if isinstance(schema, str):
            fields = [(n, t, False) for n, t in _split_ddl(schema)]
        else:
            if not all(isinstance(f.dataType, _SPELLED) for f in schema.fields):
                return None
            verify = T._make_type_verifier(schema)
            for r in rows:
                verify(r)
            fields = [
                (f.name, f.dataType.simpleString(), f.nullable)
                for f in schema.fields
            ]
        if not fields or any(not t for _n, t, _null in fields):
            return None
        vals = ",".join(
            "(" + ",".join(
                _sql_value(v, t.lower())
                for v, (_n, t, _null) in zip(r, fields, strict=True)
            ) + ")"
            for r in rows
        )
    except (ValueError, TypeError):
        return None
    # NULLIF(c, NULL) is c, typed nullable: a declared-nullable column
    # stays nullable even when none of its values is NULL
    cols = ",".join(
        (f"CAST(NULLIF(__c{i}, NULL) AS {t})" if nullable else f"CAST(__c{i} AS {t})")
        + " AS `" + n.replace("`", "``") + "`"
        for i, (n, t, nullable) in enumerate(fields)
    )
    names = ",".join(f"__c{i}" for i in range(len(fields)))
    sql = f"SELECT {cols} FROM VALUES {vals} AS __lf__({names})"
    # spark.sql substitutes ${conf} / ${env:NAME} references in its text
    return None if "${" in sql else sql


def values_frame(spark, rows: list, schema: str | T.StructType | None):
    """``rows`` as a LocalRelation, or None when they take the RDD path."""
    if len(rows) > _VALUES_MAX_ROWS:
        return None
    if schema is None:
        if not rows or not all(isinstance(r, dict) for r in rows):
            return None
        # the schema (sorted keys, merged types) createDataFrame infers
        schema = spark._inferSchemaFromList(rows)
        rows = [tuple(r.get(n) for n in schema.names) for r in rows]
    if not rows:
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        jss = spark._jsparkSession
        jdf = jss.createDataFrame([], jss.parseDataType(schema.json()))
        return DataFrame(jdf, spark)
    sql = _values_sql(rows, schema)
    return None if sql is None else spark.sql(sql)


def local_frame(spark, rows, schema: str | T.StructType):
    rows = list(rows)
    df = values_frame(spark, rows, schema)
    if df is None:
        # one partition: a 5-row lookup sliced across defaultParallelism
        # would be a many-task stage inside every broadcast build using it
        df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    return df
