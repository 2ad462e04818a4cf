"""Filter condition DSL → Spark Column compiler.

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

Compiling to Column keeps these predicates pushdown-eligible: a filter
module directly after a parquet source lands in the scan's PushedFilters.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline_spark.compilers.expression import COMPARISONS, compile_expression, schema_resolver

_OPS = {"=", "!=", ">", ">=", "<", "<=", "in", "not in", "match", "true", "false"}


def compile_filter(
    condition: Any,
    df: DataFrame,
    bound: dict[str, Column] | None = None,
) -> Column:
    """Compile a condition JSON (string or parsed) to a boolean Column.

    The result is three-valued (may be NULL); ``df.filter`` treats NULL as
    false, matching the reference.  When *negating* (partition "excluded"
    output), use :func:`as_false_on_null`.

    ``bound`` maps earlier select outputs (name → Column) into the leaf
    namespace, shadowing physical columns — the reference feeds prior
    outputs into every later function's input (SelectFunction.java:64-87),
    and Nullif resolves its condition variables against them
    (Nullif.java:56-64).
    """
    if condition is None:
        return F.lit(True)
    if isinstance(condition, str):
        condition = json.loads(condition)
    return _node(condition, df, bound or {})


def as_false_on_null(cond: Column) -> Column:
    return F.coalesce(cond, F.lit(False))


def _node(node: Any, df: DataFrame, bound: dict[str, Column]) -> Column:
    if isinstance(node, list):
        cols = [_node(child, df, bound) for child in node]
        return _fold_and(cols)
    if not isinstance(node, dict):
        raise ValueError(f"illegal condition json: {node!r}")
    if "and" in node and "or" in node:
        raise ValueError("condition must contain only one of `and` or `or`")
    if "and" in node:
        return _fold_and([_node(c, df, bound) for c in node["and"]])
    if "or" in node:
        cols = [as_false_on_null(_node(c, df, bound)) for c in node["or"]]
        out = cols[0]
        for c in cols[1:]:
            out = out | c
        return out
    return _leaf(node, df, bound)


def _fold_and(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def _leaf(leaf: dict[str, Any], df: DataFrame, bound: dict[str, Column]) -> Column:
    op = str(leaf.get("op", "=")).strip().lower()
    if op not in _OPS:
        raise ValueError(f"Filter.Op: {op} not found")
    if op == "true":
        return F.lit(True)
    if op == "false":
        return F.lit(False)

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
            # earlier select output shadows the physical column; its
            # type is resolved through analysis (driver-side, no job)
            col = bound[key]
            dtype = df.select(col).schema[0].dataType
        elif key in dtypes:
            col = F.col(key)
            dtype = dtypes[key]
        elif "." in key:
            # dotted struct path (PartitionTest.java:28-31 filters on
            # nestedField.stringField): navigate field by field
            head, *rest = key.split(".")
            if head in bound:
                col = bound[head]
                dtype = df.select(col).schema[0].dataType
            elif head in dtypes:
                col = F.col(head)
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
                col = col.getField(part)
                dtype = dtype[part].dataType
        else:
            raise ValueError(f"filter references unknown field '{key}'")

    if value is None:
        # x = null → isNull; x != null → isNotNull; others → false
        if op == "=":
            return col.isNull()
        if op == "!=":
            return col.isNotNull()
        return F.lit(False)

    if op == "match":
        return col.cast("string").rlike(str(value))

    if op in ("in", "not in"):
        if not isinstance(value, (list, tuple)):
            raise ValueError("`in`/`not in` value must be array")
        # reference compares value.toString() to the array's strings
        strs = [_to_ref_string(v) for v in value]
        svals = _stringified(col, dtype)
        cond = svals.isin(strs)
        if op == "not in":
            cond = ~cond & col.isNotNull()
        return cond

    rhs = _coerce_literal(value, dtype)
    cmp = COMPARISONS[op](col, rhs)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # NaN / ±Inf row values compare false under every op
        # (Filter.java:509-512 c=-2 trick)
        finite = ~F.isnan(col) & (F.abs(col) != F.lit(float("inf")))
        cmp = finite & cmp
    return cmp


def _to_ref_string(v: Any) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _stringified(col: Column, dtype: T.DataType) -> Column:
    """Java ``toString`` view of a column for in/not-in string comparison."""
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # Java Double.toString(1.0) == "1.0"; Spark cast yields "1.0" too
        return col.cast("string")
    if isinstance(dtype, T.BooleanType):
        # NULL must stay NULL (a .otherwise would map it to 'false' and
        # let `in: [false]` wrongly match NULL rows — Filter.java: a
        # NULL row value fails every op except an explicit null check)
        return F.when(col, "true").when(~col, "false")
    return col.cast("string")


def _coerce_literal(value: Any, dtype: T.DataType) -> Column:
    """Literal coercion mirroring the reference's per-type getAs* parsing
    (Filter.java:513-534): timestamps/dates parse string literals."""
    if isinstance(dtype, T.TimestampType):
        from pipeline_spark.compilers.select_fns import parse_timestamp

        return parse_timestamp(F.lit(str(value)))
    if isinstance(dtype, T.DateType):
        return F.to_date(F.lit(str(value)))
    if isinstance(dtype, (T.FloatType, T.DoubleType)) and isinstance(value, str):
        return F.lit(float(value))
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)) and isinstance(value, str):
        return F.lit(int(float(value)))
    if isinstance(dtype, T.DecimalType):
        return F.lit(str(value)).cast(dtype)
    return F.lit(value)
