"""`files` sink: one output file per row.

Reference: module/sink/FilesSink.java — writes each row's payload to its
own object (e.g. rendered documents).  Executor-side per-partition writer
(sinks/drive.py), no driver collect; streaming input writes per micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from pipeline_spark.registry import KIND_SINK, ModuleContext, module
from pipeline_spark.sinks.drive import write_partitions


@module("files", kind=KIND_SINK)
def files_sink(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    df = ctx.input
    out_dir = p.get("output") or p.get("path")
    name_field = p.get("nameField", "name")
    content_field = p.get("contentField", "content")
    if not out_dir:
        raise ValueError("files sink requires output dir")
    os.makedirs(out_dir, exist_ok=True)

    def write_rows(rows):
        for row in rows:
            name = str(row[name_field])
            payload = row[content_field]
            mode = "wb" if isinstance(payload, (bytes, bytearray)) else "w"
            with open(os.path.join(out_dir, os.path.basename(name)), mode) as f:
                f.write(payload)

    write_partitions(df, write_rows)
    return {"": df}
