"""`warc` sink: write rows as WARC.gz crawl archives (ISO 28500).

One ``part-NNNNN.warc.gz`` per partition, written executor-side by a
``mapInArrow`` writer drained with a ``noop`` write (on a cluster the
output dir is a DFS mount).  Each row becomes one ``resource`` (or
configured type) record in its own gzip member, the crawl-archive
convention, with deterministic bytes (gzip mtime pinned, stable per-row
record ids from the uri field).
"""

from __future__ import annotations

import os
import uuid
from typing import Any

from pyspark.sql import functions as F

from pipeline_spark.functions import warcrec
from pipeline_spark.registry import KIND_SINK, ModuleContext, module


@module("warc", kind=KIND_SINK)
def warc_sink(ctx: ModuleContext) -> dict:
    p: dict[str, Any] = ctx.params
    df = ctx.input
    out_dir = p.get("output") or p.get("path")
    if not out_dir:
        raise ValueError("warc sink requires output dir")
    uri_field = p.get("uriField", "uri")
    payload_field = p.get("payloadField", "payload")
    warc_type = p.get("warcType", "resource")
    content_type = p.get("contentType", "text/plain")
    warc_date = p.get("warcDate", "2026-01-01T00:00:00Z")
    level = int(p.get("compressLevel", 6))
    os.makedirs(out_dir, exist_ok=True)

    cols = df.select(
        F.col(uri_field).cast("string").alias("uri"),
        F.col(payload_field).alias("payload"),
    )

    # r16 (guide §4.1): the writer runs as mapInArrow — batches cross
    # the JVM→Python boundary as Arrow columns instead of row-at-a-time
    # pickled Rows (which also forced a DataFrame→RDD conversion job).
    # The per-record gzip member loop is the format's requirement and
    # unchanged; output bytes are byte-identical.
    def write_batches(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        # write to a task-attempt-unique dotfile and rename into place on
        # completion: a retried/speculative attempt never interleaves with
        # a concurrent one, and a failed attempt leaves only a hidden tmp
        # that globs for *.warc.gz skip
        f = None
        tmp_path = final_path = None
        n = 0
        try:
            for batch in batches:
                uris = batch.column(0)
                payloads = batch.column(1)
                for j in range(batch.num_rows):
                    if f is None:
                        tc = TaskContext.get()
                        pid = tc.partitionId()
                        final_path = os.path.join(
                            out_dir, f"part-{pid:05d}.warc.gz"
                        )
                        tmp_path = os.path.join(
                            out_dir,
                            f".part-{pid:05d}.warc.gz."
                            f"{tc.taskAttemptId()}.tmp",
                        )
                        f = open(tmp_path, "wb")
                    payload = payloads[j].as_py()
                    if isinstance(payload, str):
                        payload = payload.encode("utf-8")
                    elif payload is None:
                        payload = b""
                    else:
                        payload = bytes(payload)
                    uri = uris[j].as_py() or ""
                    rid = uuid.uuid5(uuid.NAMESPACE_URL, uri)
                    f.write(
                        warcrec.encode_gzip_member(
                            {
                                "WARC-Type": warc_type,
                                "WARC-Record-ID": f"<urn:uuid:{rid}>",
                                "WARC-Date": warc_date,
                                "WARC-Target-URI": uri,
                                "Content-Type": content_type,
                            },
                            payload,
                            level=level,
                        )
                    )
                    n += 1
        except BaseException:
            if f is not None:
                f.close()
                f = None
                if tmp_path is not None and os.path.exists(tmp_path):
                    os.remove(tmp_path)
            raise
        if f is not None:
            f.close()
            os.rename(tmp_path, final_path)  # atomic on a posix FS
        yield pa.RecordBatch.from_pydict({"n": [n]})

    (
        cols.mapInArrow(write_batches, schema="n long")
        .write.mode("overwrite").format("noop").save()
    )
    return {"": df}
