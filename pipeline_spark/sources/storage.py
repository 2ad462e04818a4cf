"""`storage` source: files in parquet/avro/csv/json (+ `files` metadata).

Reference: module/source/StorageSource.java:31-420 — formats avro, parquet,
csv, json (88-93); multi-path globs; parquet column projection ``fields``
(132-137); csv ``skipHeaderLines``/``delimiter``/``filterPrefix``; explicit
schema for csv/json.

Spark mapping: ``spark.read.{parquet,avro,csv,json}``.  Column projection
becomes ``.select`` (and Catalyst prunes the scan); filters declared
downstream push into the scan automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipeline_spark.functions.parquetschema import read_parquet
from pipeline_spark.registry import KIND_SOURCE, ModuleContext, module
from pipeline_spark.sources.create import build_schema


def _nanos_timestamp_cols(paths: list[str]) -> list[str]:
    """Columns stored as parquet INT64 TIMESTAMP(NANOS) — Spark can't scan
    those natively.  Physical type matters: INT96 timestamps also surface
    as arrow timestamp[ns] but Spark reads them fine, so only INT64
    nanos-logical columns qualify.  Probed driver-side with pyarrow;
    non-local/unreadable paths skip (no workaround applied)."""
    try:
        import glob
        import os

        import pyarrow.parquet as pq

        probe = paths[0]
        if "://" in probe:
            return []
        matches = sorted(glob.glob(probe)) or [probe]
        target = matches[0]
        if os.path.isdir(target):
            inner = sorted(glob.glob(os.path.join(target, "*.parquet")))
            if not inner:
                return []
            target = inner[0]
        pf = pq.ParquetFile(target)
        arrow_ns = {f.name for f in pf.schema_arrow if str(f.type) == "timestamp[ns]"}
        out = []
        pqs = pf.schema
        for i in range(len(pqs)):
            col = pqs.column(i)
            if col.name in arrow_ns and col.physical_type == "INT64":
                out.append(col.name)
        return out
    except Exception:
        return []


@module("storage", kind=KIND_SOURCE)
def storage_source(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    fmt = str(p.get("format", "parquet")).lower()
    if p.get("table") and not (p.get("input") or p.get("inputs") or p.get("path")):
        # catalog table read: required for BUCKETED tables — bucket
        # metadata lives in the catalog, and reading the files by path
        # would silently drop the co-location guarantee the write paid for
        return {"": ctx.spark.table(p["table"])}
    paths = p.get("input") or p.get("inputs") or p.get("path")
    if isinstance(paths, str):
        paths = [paths]
    if not paths:
        raise ValueError("storage source requires input path(s) or a table name")

    mode = str(p.get("mode", "batch")).lower()
    streaming = mode in ("streaming", "microbatch")

    schema_cfg = ctx.config.get("schema") or p.get("schema")
    explicit_schema = None
    if schema_cfg:
        fields = schema_cfg.get("fields") if isinstance(schema_cfg, dict) else schema_cfg
        explicit_schema = build_schema(fields)

    if streaming:
        # file-stream source (reference mode=streaming,
        # module/Source.java:34-40): new files under the glob are consumed
        # incrementally; schema comes from config or a one-time batch probe
        nanos_cols = _nanos_timestamp_cols(paths) if fmt == "parquet" else []
        if nanos_cols:
            ctx.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        reader = ctx.spark.readStream
        if explicit_schema is None and fmt != "avro":
            # avro probes inside stream_avro_native (OCF header schema)
            explicit_schema = (
                read_parquet(ctx.spark, *paths)
                if fmt == "parquet"
                else ctx.spark.read.format(fmt).load(paths)
            ).schema
        if explicit_schema is not None:
            reader = reader.schema(explicit_schema)
        if p.get("maxFilesPerTrigger"):
            reader = reader.option("maxFilesPerTrigger", int(p["maxFilesPerTrigger"]))
        if fmt == "parquet":
            df = reader.parquet(paths[0])
        elif fmt == "orc":
            df = reader.orc(paths[0])
        elif fmt == "csv":
            df = reader.option("header", "true").csv(paths[0])
        elif fmt in ("json", "jsonl"):
            df = reader.json(paths[0])
        elif fmt == "avro":
            # jar-free: binaryFile stream + per-file stdlib OCF decode;
            # a declared config schema starts the stream with no probe
            from pipeline_spark.sources.avro_native import stream_avro_native

            df = stream_avro_native(
                ctx.spark,
                paths[0],
                p.get("maxFilesPerTrigger"),
                explicit_schema=explicit_schema,
            )
        else:
            raise ValueError(f"storage streaming: unsupported format '{fmt}'")
        for c in nanos_cols:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        if p.get("fields"):
            df = df.select(*[F.col(c) for c in p["fields"]])
        # Parquet written without UTC adjustment surfaces as TIMESTAMP_NTZ
        # in Spark 4; downstream withWatermark rejects NTZ event time, so
        # normalize the declared timestampAttribute at the source.
        ts_attr = ctx.config.get("timestampAttribute")
        if ts_attr:
            from pipeline_spark.streaming import ensure_event_time

            df = ensure_event_time(df, ts_attr)
        return {"": df}

    reader = ctx.spark.read
    if explicit_schema is not None:
        reader = reader.schema(explicit_schema)

    if fmt == "parquet":
        nanos_cols = _nanos_timestamp_cols(paths)
        if nanos_cols:
            # Spark cannot scan parquet TIMESTAMP(NANOS); read them as
            # long (session conf) and convert to micros timestamps.
            ctx.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = (
            reader.parquet(*paths)
            if explicit_schema is not None
            else read_parquet(ctx.spark, *paths)
        )
        for c in nanos_cols:
            # integer div: epoch-nanos exceed double's 53-bit mantissa, so
            # `/ 1000` through float would be off by hundreds of nanos
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    elif fmt == "avro":
        try:
            df = reader.format("avro").load(paths)
        except Exception as e:
            if "Failed to find data source: avro" not in str(e):
                raise
            # no spark-avro jar: distributed native read — binaryFile rows
            # decoded per-file with the stdlib OCF reader
            from pipeline_spark.sources.avro_native import read_avro_native

            df = read_avro_native(ctx.spark, paths)
    elif fmt == "csv":
        opts = {
            "header": "false" if p.get("skipHeaderLines") in (None, 0) else "true",
            "delimiter": p.get("delimiter", ","),
        }
        if schema_cfg is None:
            opts["inferSchema"] = "true"
        df = reader.options(**opts).csv(paths)
    elif fmt in ("json", "jsonl"):
        df = reader.json(paths)
    elif fmt == "orc":
        df = reader.orc(*paths)
    else:
        raise ValueError(f"storage source: unsupported format '{fmt}'")

    # parquet column projection param (StorageSource.java:132-137)
    if p.get("fields"):
        df = df.select(*[F.col(c) for c in p["fields"]])

    ts_attr = ctx.config.get("timestampAttribute")
    if ts_attr and ts_attr in df.columns:
        pass  # event time is just a named column in our model
    return {"": df}
