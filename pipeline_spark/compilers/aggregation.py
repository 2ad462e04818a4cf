"""Aggregate-op registry → Spark aggregate expression compiler.

Op dispatch mirrors the reference's AggregateFunction registry
(reference: util/pipeline/aggregation/AggregateFunction.java:15-29 enum,
90-104 switch; docs/config/module/transform/aggregation.md:56-71).

Every op supports:
  * ``field`` or exp4j ``expression`` input
  * ``condition`` row-filter (filtered aggregate) — compiled into the
    aggregate via ``F.when(cond, x)`` so partial (map-side) aggregation
    still applies
  * ``ignore``

Spark's HashAggregate gives partial→final combine natively — the
reference's CombineFn lifting (Aggregation.java:152-209) and the `fanout`
hot-key knob (AggregationTransform.java:93-98) are subsumed by map-side
partial aggregation + AQE skew handling.

Op semantics notes:
  * first/last: earliest/latest row by event time → min_by/max_by(col, ts)
    (reference: aggregation/Last.java:15-180, opposite flag 95-96)
  * argmax/argmin: row fields at max/min of comparingField/Expression
    (aggregation/ArgMax.java:18-240) → max_by/min_by
  * avg: optional weightField → sum(v*w)/sum(w)
    (AggregateFunction.java:171-185)
  * std: Welford merge with ddof (default 1) → sqrt(M2/(n-ddof))
    (aggregation/Std.java:68-71,262)
  * simple_regression: OLS of field on xField (default x = event-time
    millis) emitting struct {Slope, Intercept, RMSE, N}
    (aggregation/SimpleRegression.java:99-104,330-352)
  * array_agg: collect field(s) into array (structs when multi-field);
    optional distinct (aggregation/ArrayAgg.java:50-77,172-187)
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipeline_spark.compilers.expression import compile_expression, schema_resolver
from pipeline_spark.compilers.filter_dsl import compile_filter


def _input_col(agg: dict[str, Any], df: DataFrame) -> Column:
    if agg.get("expression"):
        return F.expr(compile_expression(str(agg["expression"]), schema_resolver(df)))
    field = agg.get("field")
    if field is None:
        raise ValueError(f"aggregation op '{agg.get('op')}' requires field or expression")
    return F.col(field)


def _guard(col: Column, agg: dict[str, Any], df: DataFrame) -> Column:
    """Apply the op-level `condition` row filter inside the aggregate."""
    cond = agg.get("condition")
    if cond is None:
        return col
    return F.when(F.expr(compile_filter(cond, df)), col)


def agg_name(agg: dict[str, Any]) -> str:
    """Output column name of one aggregation spec (compile_agg's rule)."""
    return agg.get("name") or agg.get("field") or str(agg.get("op", "")).lower()


def compile_agg(
    agg: dict[str, Any],
    df: DataFrame,
    event_time_col: str | None = None,
) -> Column:
    """Compile one aggregation config to a named aggregate Column."""
    op = str(agg.get("op", "")).lower()
    name = agg_name(agg)
    ts = F.col(event_time_col) if event_time_col and event_time_col in df.columns else None

    if op == "count":
        cond = agg.get("condition")
        if cond is not None:
            expr = F.count(F.when(F.expr(compile_filter(cond, df)), F.lit(1)))
        elif agg.get("field"):
            expr = F.count(F.col(agg["field"]))
        else:
            expr = F.count(F.lit(1))
        return expr.alias(name)

    if op == "sum":
        return F.sum(_guard(_input_col(agg, df), agg, df)).alias(name)

    if op in ("max", "min"):
        fn = F.max if op == "max" else F.min
        return fn(_guard(_input_col(agg, df), agg, df)).alias(name)

    if op in ("first", "last"):
        if ts is None:
            raise ValueError(f"'{op}' needs an event-time column")
        fields = agg.get("fields")
        fn = F.min_by if op == "first" else F.max_by
        if fields:
            val: Column = F.struct(*[F.col(f) for f in fields])
        else:
            val = _input_col(agg, df)
        guarded_ts = _guard(ts, agg, df)
        return fn(val, guarded_ts).alias(name)

    if op in ("argmax", "argmin"):
        if agg.get("comparingExpression"):
            cmp = F.expr(compile_expression(str(agg["comparingExpression"]), schema_resolver(df)))
        else:
            cmp = F.col(agg["comparingField"])
        fields = agg.get("fields")
        if fields:
            val = F.struct(*[F.col(f) for f in fields])
        else:
            val = _input_col(agg, df)
        cmp = _guard(cmp, agg, df)
        fn = F.max_by if op == "argmax" else F.min_by
        return fn(val, cmp).alias(name)

    if op == "avg":
        v = _guard(_input_col(agg, df), agg, df)
        w_field = agg.get("weightField")
        if w_field:
            w = _guard(F.col(w_field), agg, df)
            return (F.sum(v * w) / F.sum(F.when(v.isNotNull(), w))).alias(name)
        return F.avg(v).alias(name)

    if op == "std":
        v = _guard(_input_col(agg, df), agg, df).cast("double")
        ddof = int(agg.get("ddof", 1))
        if ddof == 1:
            return F.stddev_samp(v).alias(name)
        if ddof == 0:
            return F.stddev_pop(v).alias(name)
        # general ddof: sqrt(M2 / (n - ddof)) from sums
        n = F.count(v)
        m2 = F.sum(v * v) - (F.sum(v) * F.sum(v)) / n
        return F.sqrt(m2 / (n - F.lit(ddof))).alias(name)

    if op in ("simple_regression", "regression"):
        y = _guard(_input_col(agg, df), agg, df).cast("double")
        if agg.get("xField"):
            x = F.col(agg["xField"]).cast("double")
        elif agg.get("xExpression"):
            x = F.expr(compile_expression(str(agg["xExpression"]), schema_resolver(df)))
        elif ts is not None:
            x = (F.unix_micros(ts) / 1000).cast("double")  # event-time millis
        else:
            raise ValueError("simple_regression needs xField/xExpression or event time")
        x = _guard(x, agg, df)
        slope = F.regr_slope(y, x)
        intercept = F.regr_intercept(y, x)
        n = F.regr_count(y, x)
        # RMSE = sqrt(SSE/n); SSE = Syy - slope*Sxy
        sse = F.regr_syy(y, x) - slope * F.regr_sxy(y, x)
        rmse = F.sqrt(sse / n)
        return F.struct(
            slope.alias("Slope"),
            intercept.alias("Intercept"),
            rmse.alias("RMSE"),
            n.cast("double").alias("N"),
        ).alias(name)

    if op == "array_agg":
        fields = agg.get("fields")
        if fields and len(fields) > 1:
            val = F.struct(*[F.col(f) for f in fields])
        else:
            val = _guard(_input_col(agg, df) if not fields else F.col(fields[0]), agg, df)
        if agg.get("distinct"):
            return F.collect_set(val).alias(name)
        return F.collect_list(val).alias(name)

    if op == "any":
        return F.any_value(_guard(_input_col(agg, df), agg, df)).alias(name)

    if op == "count_distinct":
        return F.count_distinct(_guard(_input_col(agg, df), agg, df)).alias(name)

    if op == "approx_count_distinct":
        return F.approx_count_distinct(_input_col(agg, df)).alias(name)

    if op == "median":
        return F.median(_guard(_input_col(agg, df), agg, df)).alias(name)

    if op == "percentile":
        pct = float(agg.get("percentile", 0.5))
        if agg.get("exact", False):
            return F.percentile(_guard(_input_col(agg, df), agg, df), F.lit(pct)).alias(name)
        return F.percentile_approx(_guard(_input_col(agg, df), agg, df), pct).alias(name)

    raise ValueError(f"unknown aggregation op '{op}'")


def compile_aggs(
    aggs: list[dict[str, Any]],
    df: DataFrame,
    event_time_col: str | None = None,
) -> list[Column]:
    return [
        compile_agg(a, df, event_time_col)
        for a in aggs
        if not a.get("ignore")
    ]
