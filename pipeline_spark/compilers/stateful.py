"""Stateful select functions → Spark Window expressions.

When any select function is stateful the reference regroups by
``groupFields`` and runs a per-key event-time-sorted buffer
(reference: SelectTransform.java:94-142; batch uses
@RequiresTimeSortedInput + OrderedListState, 391-467).  A ``range``
constrains the lookback: ``count`` N rows back, or ``duration`` + ``unit``
(second/minute/hour/day) with optional ``offset``
(reference: util/pipeline/select/stateful/StatefulFunction.java:20-147;
range filter semantics 112-132: window is (ts-D, ts], offset excludes the
most recent ``offset`` units).

In Spark this is exactly a Window frame:
  * count range     → rowsBetween(-(N-1), 0)
  * duration range  → rangeBetween(-(D-1), 0) over unix seconds
  * offset          → rangeBetween(-(D+offset-1), -offset)

Navigation functions (row_number/rank/lead) are declared but stubbed in the
reference (select/navigation/NavigationFunction.java is a placeholder;
SelectTransform.java:574-577 TODO) — Spark gets them free, so we implement
them anyway.

``lag`` evaluates an exp4j expression where ``field[k]`` denotes the value
k rows back per key (reference: select/stateful/Lag.java:16-162); compiled
as ``lag(...) OVER (...)`` SQL text feeding the expression text.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from pipeline_spark.compilers import select_fns
from pipeline_spark.compilers.expression import compile_expression, schema_resolver, to_double
from pipeline_spark.compilers.filter_dsl import compile_filter
from pipeline_spark.functions.sqltext import col_ref, qi

_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _base_window(group_fields: list[str], order_col: Column) -> WindowSpec:
    if group_fields:
        return Window.partitionBy(*[F.col(g) for g in group_fields]).orderBy(order_col)
    return Window.partitionBy().orderBy(order_col)


def _frame(w: WindowSpec, range_spec: dict[str, Any] | None, is_duration_order: bool) -> WindowSpec:
    """Apply the reference's range semantics to a window spec."""
    if not range_spec:
        return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if "count" in range_spec:
        n = int(range_spec["count"])
        # optional row offset: the processing module's range [a, b] maps to
        # the b-a most recent rows ending a rows back
        off = int(range_spec.get("offset", 0))
        return w.rowsBetween(-(off + n - 1), -off)
    dur = int(range_spec["duration"])
    unit = str(range_spec.get("unit", "second")).lower()
    secs = dur * _UNIT_SECONDS[unit]
    offset = int(range_spec.get("offset", 0)) * _UNIT_SECONDS[unit]
    # reference window is (ts - D, ts] shifted back by offset
    return w.rangeBetween(-(secs + offset - 1), -offset)


def apply_stateful_select(
    df: DataFrame,
    selects: list[dict[str, Any]],
    event_time_col: str | None,
    group_fields: list[str] | None = None,
) -> DataFrame:
    """Project through a mixed stateless/stateful select list.

    Sequential binding is preserved by materializing each output with
    ``withColumn`` so later functions (and their window orderings) can see
    earlier outputs.
    """
    group_fields = group_fields or []
    if event_time_col is None or event_time_col not in df.columns:
        raise ValueError("stateful select requires an event-time column")
    ts = F.col(event_time_col)
    # rangeBetween needs a numeric ordering column: unix seconds
    ord_secs = F.unix_timestamp(ts)

    work = df
    out_names: list[str] = []
    for sf in selects:
        if sf.get("ignore"):
            continue
        name = sf["name"]
        func = select_fns.infer_func(sf)
        if not select_fns.is_stateful(sf):
            work, pairs = select_fns.compile_selects([sf], work, event_time_col)
            work = work.withColumn(name, F.expr(pairs[0][1]))
        else:
            work = work.withColumn(
                name,
                _stateful_col(sf, func, work, event_time_col, ord_secs, group_fields),
            )
        out_names.append(name)
    return work.select(*out_names)


def _stateful_col(
    sf: dict[str, Any],
    func: str,
    df: DataFrame,
    event_time_col: str,
    ord_secs: Column,
    group_fields: list[str],
) -> Column:
    range_spec = sf.get("range")
    ts = F.col(event_time_col)

    if func == "lag":
        expr_text = str(sf["expression"])
        partition = (
            f"PARTITION BY {', '.join(col_ref(g) for g in group_fields)} " if group_fields else ""
        )
        over = f"OVER ({partition}ORDER BY {col_ref(event_time_col)})"
        dtypes = {f.name: f.dataType for f in df.schema.fields}

        def resolver(fname: str, k: int) -> str:
            if fname not in dtypes:
                raise ValueError(f"lag: unknown field '{fname}'")
            base = to_double(qi(fname), dtypes[fname])
            if k == 0:
                return base
            return f"lag({base}, {k}) {over}"

        return F.expr(compile_expression(expr_text, resolver))

    if func in ("row_number", "rank", "dense_rank"):
        w = _base_window(group_fields, ts)
        return {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[func]().over(w)

    if func == "lead":
        w = _base_window(group_fields, ts)
        k = int(sf.get("offset", 1))
        return F.lead(F.col(sf.get("field", sf["name"])), k).over(w)

    # running aggregate: any §2.2 op over a count/duration frame
    if range_spec and "duration" in range_spec:
        w = _frame(_base_window(group_fields, ord_secs), range_spec, True)
    else:
        w = _frame(_base_window(group_fields, ts), range_spec, False)

    agg_col = _windowable_agg(sf, func, df)
    return agg_col.over(w)


def _windowable_agg(sf: dict[str, Any], func: str, df: DataFrame) -> Column:
    """Aggregate expression for window use (no alias — window aggs are named
    by the caller's withColumn)."""
    def input_col() -> Column:
        if sf.get("expression"):
            return F.expr(compile_expression(str(sf["expression"]), schema_resolver(df)))
        fields = sf.get("fields")
        if fields and len(fields) > 1:
            # multi-field form (reference SelectTransformTest array_agg
            # over [field_long, field_string]) → one struct per row
            return F.struct(*[F.col(f) for f in fields])
        if fields:
            return F.col(fields[0])
        return F.col(sf["field"])

    def guard(c: Column) -> Column:
        cond = sf.get("condition")
        if cond is None:
            return c
        return F.when(F.expr(compile_filter(cond, df)), c)

    if func == "count":
        if sf.get("condition") is not None:
            return F.count(F.when(F.expr(compile_filter(sf["condition"], df)), F.lit(1)))
        return F.count(F.lit(1))
    if func == "sum":
        return F.sum(guard(input_col()))
    if func == "max":
        return F.max(guard(input_col()))
    if func == "min":
        return F.min(guard(input_col()))
    if func == "avg":
        return F.avg(guard(input_col()))
    if func == "std":
        ddof = int(sf.get("ddof", 1))
        v = guard(input_col()).cast("double")
        if ddof == 1:
            return F.stddev_samp(v)
        if ddof == 0:
            return F.stddev_pop(v)
        raise ValueError("window std supports ddof 0/1")
    if func == "first":
        return F.first(guard(input_col()), ignorenulls=False)
    if func == "last":
        return F.last(guard(input_col()), ignorenulls=False)
    if func in ("argmax", "argmin"):
        cmp = F.col(sf["comparingField"]) if sf.get("comparingField") else None
        if cmp is None and sf.get("comparingExpression"):
            cmp = F.expr(compile_expression(str(sf["comparingExpression"]), schema_resolver(df)))
        val = input_col()
        fn = F.max_by if func == "argmax" else F.min_by
        return fn(val, guard(cmp))
    if func == "array_agg":
        return F.collect_list(guard(input_col()))
    raise ValueError(f"unsupported stateful func '{func}'")
