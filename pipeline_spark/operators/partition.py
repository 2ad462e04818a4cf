"""`partition` transform: route rows to named outputs by filter match.

Reference: module/transform/PartitionTransform.java:22-274 — each row goes
to the first (or all, ``exclusive: false``) partition whose filter matches;
optional per-partition ``select`` or per-partition SQL
(util/pipeline/Partition.java:97-139); non-matching rows → ``excluded``
output; ``union: true`` merges everything back into one output.

Spark: N× ``df.filter(cond_i)`` over the SAME scan, each condition one
SQL text — Catalyst caches nothing here but each branch pushes its own
predicate down; at scale, prefer this over a row-at-a-time dispatcher
because each partition output is an independent pushdown-eligible plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pipeline_spark.compilers.filter_dsl import as_false_on_null, compile_filter, fold
from pipeline_spark.compilers.select_fns import apply_select
from pipeline_spark.registry import KIND_TRANSFORM, ModuleContext, module


@module("partition", kind=KIND_TRANSFORM)
def partition_transform(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    df = ctx.input
    # multiple inputs are flattened before routing (reference
    # PartitionTransform.java applies the partitioner to the union of its
    # inputs — PartitionTransformTest.test1 expects rows from both creates
    # in one output); name-union with null padding matches union semantics
    for extra in ctx.inputs[1:]:
        df = df.unionByName(extra, allowMissingColumns=True)
    partitions = p.get("partitions") or []
    exclusive = bool(p.get("exclusive", True))
    ts_attr = ctx.config.get("timestampAttribute")

    outs: dict[str, DataFrame] = {}
    conds = []
    for part in partitions:
        name = part["name"]
        cond = compile_filter(part.get("filters") or part.get("filter"), df)
        conds.append(as_false_on_null(cond))
        if exclusive and len(conds) > 1:
            # first-match-wins: exclude all earlier partitions' rows
            branch_cond = f"({conds[-1]} AND (NOT {fold(conds[:-1], 'OR')}))"
        else:
            branch_cond = cond
        branch = df.filter(branch_cond)
        if part.get("sql"):
            view = f"__partition_{ctx.name}_{name}"
            branch.createOrReplaceTempView(view)
            branch = ctx.spark.sql(part["sql"].replace("INPUT", view))
        elif part.get("select"):
            branch = apply_select(branch, part["select"], ts_attr)
        outs[name] = branch

    outs["excluded"] = df.filter(f"(NOT {fold(conds, 'OR')})" if conds else "false")

    if p.get("union"):
        merged = None
        for name, branch in outs.items():
            if name == "excluded":
                continue
            merged = branch if merged is None else merged.unionByName(branch, allowMissingColumns=True)
        return {"": merged if merged is not None else df.filter("false")}
    return outs
