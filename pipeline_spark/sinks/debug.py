"""`debug` sink: log rows (``show``; per micro-batch for streaming input).

Reference: module/sink/DebugSink.java:22-197.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pipeline_spark.registry import KIND_SINK, ModuleContext, module
from pipeline_spark.sinks.drive import write_batches


@module("debug", kind=KIND_SINK)
def debug_sink(ctx: ModuleContext) -> dict[str, DataFrame]:
    df = ctx.input
    n = int(ctx.params.get("limit", 20))
    write_batches(df, lambda bdf, _bid: bdf.show(n, truncate=False))
    return {"": df}
