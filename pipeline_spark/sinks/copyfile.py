"""`copyfile` sink: storage-to-storage object copy.

Reference: module/sink/CopyFileSink.java — copies files named by row fields
between storages.  Executor-side copies per partition (sinks/drive.py;
local/posix paths), per micro-batch for streaming input.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame

from pipeline_spark.registry import KIND_SINK, ModuleContext, module
from pipeline_spark.sinks.drive import write_partitions


@module("copyfile", kind=KIND_SINK)
def copyfile_sink(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    df = ctx.input
    src_field = p.get("sourceField", "source")
    dst_field = p.get("destinationField", "destination")

    def copy_rows(rows):
        for row in rows:
            shutil.copyfile(row[src_field], row[dst_field])

    write_partitions(df, copy_rows)
    return {"": df}
