"""`text` sink: one templated file per record.

Reference: module/sink/TextSink.java:43-270 + docs/config/module/sink/
text.md — unlike the storage sink (many rows per file), every record
renders a FreeMarker template into its own object, with the DESTINATION
path itself templated per record.  Spark-first: rendering and writing
happen executor-side per partition (``sinks/drive.py``; no driver
materialization, parallelism = partition count, streaming input per
micro-batch); the FreeMarker-subset engine is the same one behind the
text select function (``compilers/select_fns.py``).

Shared-filesystem paths only — GCS/S3 destinations and object metadata
(contentType, cacheControl, …) need their storage connectors and raise
actionably.  The reference's ``_CSVPrinter`` template helper (``line``/
``lines``) is provided.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from pipeline_spark.registry import KIND_SINK, ModuleContext, module
from pipeline_spark.sinks.drive import write_partitions


class _CSVPrinter:
    """FreeMarker helper from the reference's TextSink template scope."""

    @staticmethod
    def line(*values) -> str:
        import csv
        import io

        buf = io.StringIO()
        csv.writer(buf, lineterminator="\n").writerow(list(values))
        return buf.getvalue()

    @staticmethod
    def lines(data, *field_names) -> str:
        return "".join(
            _CSVPrinter.line(*[row.get(f) if hasattr(row, "get") else row[f] for f in field_names])
            for row in (data or [])
        )


@module("text", kind=KIND_SINK)
def text_sink(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    df: DataFrame = ctx.input
    output = p.get("output")
    template = p.get("template")
    if not output or not template:
        raise ValueError("text sink requires output (templated path) and template")
    import re as _re

    # normalize file:// URIs to plain paths BEFORE rendering — the raw
    # string feeds os.makedirs/open, which would otherwise create a
    # literal './file:' directory
    output = _re.sub(r"^file:/{0,2}(/)", r"\1", str(output))
    if "://" in output:
        raise RuntimeError(
            "text sink writes shared-filesystem paths natively; GCS/S3 "
            "destinations need their storage connector"
        )
    # template may be a file path (the reference loads it from GCS) or an
    # inline string
    if os.path.exists(str(template)):
        with open(template, encoding="utf-8") as fh:
            template = fh.read()
    charset = p.get("charset", "UTF-8")
    bom = bool(p.get("bom", False))

    from pipeline_spark.compilers.select_fns import render_row_template

    # plan-time validation: template errors fail the plan, not every task
    render_row_template(str(template))
    render_row_template(str(output))
    tpl_src, out_src = str(template), str(output)

    def write_rows(rows) -> None:
        from pipeline_spark.compilers.select_fns import render_row_template as rrt

        render_content = rrt(tpl_src)
        render_path = rrt(out_src)
        for d in rows:
            d["_CSVPrinter"] = _CSVPrinter
            path = render_path(d)
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            payload = render_content(d).encode(charset)
            if bom and charset.upper().startswith("UTF-8"):
                payload = b"\xef\xbb\xbf" + payload
            with open(path, "wb") as fh:
                fh.write(payload)

    write_partitions(df, write_rows)
    return {"": df}
