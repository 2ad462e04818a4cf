"""The one write driver for sinks that write through Python code.

A batch frame is written once; a streaming frame runs one
``foreachBatch`` query with an ``availableNow`` trigger, so every sink
treats bounded and unbounded input the same way.  Row writers run
executor-side per partition and see ``Row.asDict(recursive=True)``
dicts (maps and structs as dicts, timestamps naive local datetimes).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame


def write_batches(
    df: DataFrame,
    write_batch: Callable[[DataFrame, int | None], None],
    *,
    checkpoint: str | None = None,
    output_mode: str = "append",
    wait: bool = True,
) -> None:
    """``write_batch(df, None)`` for a batch frame; for a streaming frame,
    ``write_batch(micro_batch, batch_id)`` per micro-batch of one
    ``foreachBatch`` + ``availableNow`` query (awaited unless ``wait`` is
    false)."""
    if not df.isStreaming:
        write_batch(df, None)
        return
    writer = df.writeStream.outputMode(output_mode).foreachBatch(write_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    query = writer.trigger(availableNow=True).start()
    if wait:
        query.awaitTermination()


def write_partitions(
    df: DataFrame, write_rows: Callable[[Iterator[dict]], None], **stream
) -> None:
    """Run ``write_rows`` executor-side once per partition over the
    partition's rows as dicts; ``stream`` goes to :func:`write_batches`."""

    def write_partition(rows) -> None:
        write_rows(row.asDict(recursive=True) for row in rows)

    write_batches(
        df, lambda bdf, _bid: bdf.foreachPartition(write_partition), **stream
    )


def write_mutations(
    df: DataFrame,
    *,
    factory_path: str,
    params: dict,
    batch_size: int,
    to_mutations: Callable[[dict], Iterable[dict]],
    **stream,
) -> None:
    """Executor-side mutation writes (the reference's per-bundle client,
    SpannerSink.java WriteMutationDoFn): every partition builds its own
    client from the dotted factory path, maps each row dict to zero or
    more ``{"op", "table", "row"}`` mutations (SURVEY §2.10
    UnifiedMutation) and hands them to ``client.write`` in chunks of
    ``batch_size``."""

    def write_rows(rows: Iterator[dict]) -> None:
        from pipeline_spark.operators.ml import resolve_factory

        client = resolve_factory(factory_path)(params)
        buf: list[dict] = []
        for d in rows:
            for m in to_mutations(d):
                buf.append(m)
                if len(buf) >= batch_size:
                    client.write(buf)
                    buf = []
        if buf:
            client.write(buf)

    write_partitions(df, write_rows, **stream)
