"""`filter` transform: row filter + optional select / flatten.

Reference: module/transform/FilterTransform.java:16-103 — applies the
condition DSL, then optional ``select`` projection and ``flattenField``
explode.

The compiled predicate is one SQL text that Catalyst parses into the same
predicate tree, so when this module sits directly on a parquet source it
is pushed into the scan (PushedFilters) — at 100 TB this is the
difference between reading a partition and reading the lake.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pipeline_spark.compilers.filter_dsl import compile_filter
from pipeline_spark.compilers.select_fns import apply_select
from pipeline_spark.registry import KIND_TRANSFORM, ModuleContext, module


@module("filter", kind=KIND_TRANSFORM)
def filter_transform(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    df = ctx.input
    cond = p.get("filters") or p.get("filter") or p.get("conditions") or p.get("condition")
    if cond is not None:
        df = df.filter(compile_filter(cond, df))
    if p.get("select"):
        df = apply_select(df, p["select"], ctx.config.get("timestampAttribute"))
    if p.get("flattenField"):
        from pipeline_spark.operators.unnest import flatten_field

        df = flatten_field(df, p["flattenField"])
    return {"": df}
