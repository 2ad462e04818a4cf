"""`microbatch` source: incremental templated query with checkpointing.

Reference: util/pipeline/MicroBatch.java:31-516 + module/source/
MicrobatchQuery.java — generates (start, end] intervals, renders the user
query template with the bounds (FreeMarker vars), executes it per tick
against BigQuery/JDBC, optionally persists a checkpoint high-watermark
(``outputCheckpoint`` / ``useCheckpointAsStartDatetime``).

Spark-first batch catch-up mode: iterate the intervals up to
``endDatetime`` (default: now), substitute ``__timestamp_from__`` /
``__timestamp_to__`` into the query, run it through
``spark.sql`` over the registered input view, and union the interval
results — each interval's predicate pushes into the scan, so this is a
sequence of pruned incremental reads exactly like the reference's
catch-up loop.  The high-watermark lands in ``checkpointFile``; the next
run resumes from it.

For continuous operation use the storage source's ``mode: streaming``
(Trigger.AvailableNow catch-up) — this module exists for the
query-templated incremental pattern (JDBC/warehouse-style ingestion).
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import DataFrame

from pipeline_spark.registry import KIND_SOURCE, ModuleContext, module


def _parse_ts(v: str) -> dt.datetime:
    return dt.datetime.fromisoformat(str(v).replace("Z", "+00:00")).replace(tzinfo=None)


@module("microbatch", kind=KIND_SOURCE)
def microbatch_source(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    input_path = p.get("input")
    view = p.get("table", "__microbatch_input__")
    if input_path:
        from pyspark.sql import functions as F

        from pipeline_spark.functions.parquetschema import read_parquet
        from pipeline_spark.sources.storage import _nanos_timestamp_cols

        nanos_cols = _nanos_timestamp_cols([input_path])
        if nanos_cols:
            ctx.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df_in = read_parquet(ctx.spark, input_path)
        for c in nanos_cols:
            df_in = df_in.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        df_in.createOrReplaceTempView(view)
    query_tpl = p.get("query")
    if not query_tpl:
        raise ValueError(
            "microbatch requires query with __timestamp_from__/__timestamp_to__ placeholders"
        )
    interval = int(p.get("intervalSeconds", p.get("interval", 3600)))

    checkpoint_file = p.get("checkpointFile")
    start = None
    # default False matches the reference (MicroBatch.java:63-64): configs
    # that set checkpointFile without the flag resume from startDatetime
    if checkpoint_file and p.get("useCheckpointAsStartDatetime", False) and os.path.exists(checkpoint_file):
        with open(checkpoint_file) as f:
            start = _parse_ts(json.load(f)["watermark"])
    if start is None:
        start = _parse_ts(p["startDatetime"])
    if p.get("endDatetime"):
        end = _parse_ts(p["endDatetime"])
    else:
        end = dt.datetime.utcnow()

    out: DataFrame | None = None
    cur = start
    n_intervals = 0
    max_intervals = int(p.get("maxIntervals", 10_000))
    while cur < end and n_intervals < max_intervals:
        nxt = min(cur + dt.timedelta(seconds=interval), end)
        # double-underscore placeholders (not Jinja) so they survive the
        # config loader's own Jinja2 pass untouched
        sql = query_tpl.replace("__timestamp_from__", cur.isoformat(sep=" ")).replace(
            "__timestamp_to__", nxt.isoformat(sep=" ")
        )
        batch = ctx.spark.sql(sql)
        out = batch if out is None else out.unionByName(batch)
        cur = nxt
        n_intervals += 1

    if out is None:
        raise ValueError("microbatch: empty interval range (start >= end)")

    if checkpoint_file:
        # Deferred to post-commit: the reference persists the checkpoint only
        # after query results are emitted (MicroBatch.java CheckpointSaveDoFn);
        # writing at plan time would advance the watermark even when a
        # downstream sink fails, silently skipping that interval on resume.
        watermark = cur.isoformat()

        def _write_checkpoint() -> None:
            os.makedirs(os.path.dirname(checkpoint_file) or ".", exist_ok=True)
            with open(checkpoint_file, "w") as f:
                json.dump({"watermark": watermark}, f)

        ctx.on_commit(_write_checkpoint)
    return {"": out}
