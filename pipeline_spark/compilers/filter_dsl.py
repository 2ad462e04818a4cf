"""Filter condition DSL → Spark SQL text compiler.

The reference's filter condition is a JSON tree of ``and``/``or`` nodes over
leaves ``{key|expression, op, value}``
(reference: util/pipeline/Filter.java:91-118 ops, 303-379 parse,
478-541 compare).  Accepted shapes:

  {"key": "a", "op": "=", "value": 1}                     single leaf
  [{...}, {...}]                                          implicit AND
  {"and": [leaf|node, ...]} / {"or": [...]}               nested tree

Ops: ``= != > >= < <= in "not in" match``.  Reference edge semantics we
reproduce exactly (Filter.java:478-541):

* row value NULL:  ``x = null`` → true; every other op → false.
* leaf value NULL: ``x != null`` → true for non-null x; every other → false.
* ``in`` / ``not in``: compares ``value.toString()`` against the strings of
  the array — i.e. STRING comparison.
* ``match``: ``Pattern.matcher(v).find()`` — unanchored regex (Spark
  ``rlike`` has the same find semantics).
* float NaN / ±Inf row values: comparison returns c=-2 → every op false.
* a leaf may carry an exp4j ``expression`` instead of ``key``; it is
  evaluated as double and compared to ``value`` as double.

The condition compiles to SQL text that Catalyst parses into the same
predicate tree the Column API would build, so a whole condition ships in
one ``df.filter(text)``/``F.expr`` call.  The predicates stay
pushdown-eligible: a filter module directly after a parquet source lands
in the scan's PushedFilters.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pipeline_spark.compilers.expression import compile_expression, schema_resolver
from pipeline_spark.functions.sqltext import col_ref, qi, sql_lit

_OPS = {"=", "!=", ">", ">=", "<", "<=", "in", "not in", "match", "true", "false"}


def compile_filter(
    condition: Any,
    df: DataFrame,
    bound: dict[str, str] | None = None,
) -> str:
    """Compile a condition JSON (string or parsed) to boolean SQL text.

    The result is three-valued (may be NULL); ``df.filter`` treats NULL as
    false, matching the reference.  When *negating* (partition "excluded"
    output), use :func:`as_false_on_null`.

    ``bound`` maps earlier select outputs (name → SQL text) into the leaf
    namespace, shadowing physical columns — the reference feeds prior
    outputs into every later function's input (SelectFunction.java:64-87),
    and Nullif resolves its condition variables against them
    (Nullif.java:56-64).
    """
    if condition is None:
        return "true"
    if isinstance(condition, str):
        condition = json.loads(condition)
    return _node(condition, df, bound or {})


def as_false_on_null(cond: str) -> str:
    return f"coalesce({cond}, false)"


def _node(node: Any, df: DataFrame, bound: dict[str, str]) -> str:
    if isinstance(node, list):
        return fold([_node(child, df, bound) for child in node], "AND")
    if not isinstance(node, dict):
        raise ValueError(f"illegal condition json: {node!r}")
    if "and" in node and "or" in node:
        raise ValueError("condition must contain only one of `and` or `or`")
    if "and" in node:
        return fold([_node(c, df, bound) for c in node["and"]], "AND")
    if "or" in node:
        return fold([as_false_on_null(_node(c, df, bound)) for c in node["or"]], "OR")
    return _leaf(node, df, bound)


def fold(conds: list[str], op: str) -> str:
    """Left-deep ``AND``/``OR`` of condition texts."""
    out = conds[0]
    for c in conds[1:]:
        out = f"({out} {op} {c})"
    return out


def _resolve_type(df: DataFrame, sql: str) -> T.DataType:
    # driver-side analysis of one projection, no job
    return df.selectExpr(sql).schema[0].dataType


def _leaf(leaf: dict[str, Any], df: DataFrame, bound: dict[str, str]) -> str:
    op = str(leaf.get("op", "=")).strip().lower()
    if op not in _OPS:
        raise ValueError(f"Filter.Op: {op} not found")
    if op == "true":
        return "true"
    if op == "false":
        return "false"

    value = leaf.get("value")
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    if leaf.get("expression"):
        # expression leaves are double-valued (Filter.java:419-466)
        col = compile_expression(
            str(leaf["expression"]), schema_resolver(df, extra=bound)
        )
        dtype: T.DataType = T.DoubleType()
    else:
        key = leaf["key"]
        if key in bound:
            # earlier select output shadows the physical column
            col = f"({bound[key]})"
            dtype = _resolve_type(df, col)
        elif key in dtypes:
            col = col_ref(key)
            dtype = dtypes[key]
        elif "." in key:
            # dotted struct path (PartitionTest.java:28-31 filters on
            # nestedField.stringField): navigate field by field
            head, *rest = key.split(".")
            if head in bound:
                col = f"({bound[head]})"
                dtype = _resolve_type(df, col)
            elif head in dtypes:
                col = qi(head)
                dtype = dtypes[head]
            else:
                raise ValueError(f"filter references unknown field '{key}'")
            for part in rest:
                if not isinstance(dtype, T.StructType) or part not in {
                    f.name for f in dtype.fields
                }:
                    raise ValueError(
                        f"filter references unknown field '{key}'"
                    )
                col = f"{col}.{qi(part)}"
                dtype = dtype[part].dataType
        else:
            raise ValueError(f"filter references unknown field '{key}'")

    if value is None:
        # x = null → isNull; x != null → isNotNull; others → false
        if op == "=":
            return f"({col} IS NULL)"
        if op == "!=":
            return f"({col} IS NOT NULL)"
        return "false"

    if op == "match":
        return f"(CAST({col} AS STRING) RLIKE {sql_lit(str(value))})"

    if op in ("in", "not in"):
        if not isinstance(value, (list, tuple)):
            raise ValueError("`in`/`not in` value must be array")
        # reference compares value.toString() to the array's strings
        strs = ", ".join(sql_lit(_to_ref_string(v)) for v in value)
        cond = f"({_stringified(col, dtype)} IN ({strs}))"
        if op == "not in":
            cond = f"((NOT {cond}) AND ({col} IS NOT NULL))"
        return cond

    cmp = f"({col} {op} {_coerce_literal(value, dtype)})"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # NaN / ±Inf row values compare false under every op
        # (Filter.java:509-512 c=-2 trick)
        finite = f"((NOT isnan({col})) AND (abs({col}) != {sql_lit(float('inf'))}))"
        cmp = f"({finite} AND {cmp})"
    return cmp


def _to_ref_string(v: Any) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _stringified(col: str, dtype: T.DataType) -> str:
    """Java ``toString`` view of a column for in/not-in string comparison."""
    if isinstance(dtype, T.BooleanType):
        # NULL must stay NULL (an ELSE would map it to 'false' and let
        # `in: [false]` wrongly match NULL rows — Filter.java: a NULL row
        # value fails every op except an explicit null check)
        return f"CASE WHEN {col} THEN 'true' WHEN (NOT {col}) THEN 'false' END"
    # Java Double.toString(1.0) == "1.0"; Spark cast yields "1.0" too
    return f"CAST({col} AS STRING)"


def _coerce_literal(value: Any, dtype: T.DataType) -> str:
    """Literal coercion mirroring the reference's per-type getAs* parsing
    (Filter.java:513-534): timestamps/dates parse string literals."""
    if isinstance(dtype, T.TimestampType):
        from pipeline_spark.compilers.select_fns import parse_timestamp

        return parse_timestamp(sql_lit(str(value)))
    if isinstance(dtype, T.DateType):
        return f"to_date({sql_lit(str(value))})"
    if isinstance(dtype, (T.FloatType, T.DoubleType)) and isinstance(value, str):
        return sql_lit(float(value))
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)) and isinstance(value, str):
        return sql_lit(int(float(value)))
    if isinstance(dtype, T.DecimalType):
        return f"CAST({sql_lit(str(value))} AS {dtype.simpleString()})"
    return sql_lit(value)
