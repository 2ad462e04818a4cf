"""Cloud-connector sinks: bigquery / spanner / firestore / datastore /
bigtable / pubsub / iceberg / kafka.

Reference surface (SURVEY §2.7): module/sink/{BigQuery,Spanner,Firestore,
Datastore,Bigtable,PubSub,Iceberg}Sink.java.  Spark-first mapping:

  bigquery   df.write.format("bigquery") (spark-bigquery-connector); without
             the jar, staged parquet + one load job, or client inserts
  spanner/firestore/datastore/bigtable/pubsub
             one client per partition writing mutation batches
             (sinks/drive.py write_mutations)
  iceberg    df.writeTo(table) with the runtime jar; without it a native
             commit per write, one per micro-batch when streaming
  kafka      the kafka connector with its jar; without it the stdlib wire
             producer per partition (sinks/drive.py write_partitions)

Each module resolves its connector lazily and raises a clear, actionable
error when the connector jar / SDK is absent (none are bundled with this
package).  The config surface — module name, parameters, mutation-op
column semantics (SURVEY §2.10) — is the reference's, so configs validate
and plans build; only the final action needs the connector.  Streaming
input runs through the same writers, one foreachBatch per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipeline_spark.functions.jvmclass import jvm_class_present
from pipeline_spark.registry import KIND_SINK, ModuleContext, module
from pipeline_spark.sinks.drive import write_batches, write_mutations, write_partitions


def _require_connector(ctx: ModuleContext, fmt: str, hint: str) -> None:
    # cached per (gateway, class): the probe costs ~5 py4j round-trips and
    # its answer is fixed for the JVM's lifetime
    if not jvm_class_present(ctx.spark, hint):
        raise RuntimeError(
            f"{fmt} sink requires its Spark connector on the classpath "
            f"(missing {hint}); add the connector jar via spark.jars.packages"
        )


@module("bigquery", kind=KIND_SINK)
def bigquery_sink(ctx: ModuleContext) -> dict[str, DataFrame]:
    """BigQuery write (reference: BigQuerySink.java:36-894 — table
    addressing ``proj:ds.t``/datasetId+tableId, writeDisposition/
    createDisposition, method FILE_LOADS | STREAMING_INSERTS |
    STORAGE_WRITE_API, partitioning/clustering fields).

    Jar present: the spark-bigquery connector.  Jar absent, an injectable
    client runs the same two write shapes the reference's BigQueryIO
    resolves to:

      FILE_LOADS (batch default)    Spark writes parquet to the staging
                                    location IN PARALLEL (the only
                                    row-volume move), then ONE driver-side
                                    load job points BigQuery at the staged
                                    files — load jobs are free and
                                    server-side, so the driver never
                                    touches row data.
      STREAMING_INSERTS / STORAGE_* executor-side batched inserts through
                                    the mutation-writer contract, one
                                    client per partition.
    """
    p = ctx.params
    table = _bq_sink_table(p)
    try:
        _require_connector(
            ctx, "bigquery", "com.google.cloud.spark.bigquery.BigQueryRelationProvider"
        )
    except RuntimeError:
        _bigquery_native_write(ctx, p, table)
        return {"": ctx.input}
    writer = ctx.input.write.format("bigquery").option("table", table)
    if p.get("temporaryGcsBucket"):
        writer = writer.option("temporaryGcsBucket", p["temporaryGcsBucket"])
    writer.mode(p.get("mode", "append")).save()
    return {"": ctx.input}


def _bq_sink_table(p: dict) -> str:
    """project.dataset.table per BigQuerySink.Parameters.setDefaults:
    combined ``table`` (``proj:ds.t``/``ds.t``) or split ids."""
    table = p.get("table")
    if table:
        return str(table).replace(":", ".", 1)
    parts = [p.get("projectId"), p.get("datasetId"), p.get("tableId")]
    if not (p.get("datasetId") and p.get("tableId")):
        raise ValueError("bigquery sink requires table or datasetId+tableId")
    return ".".join(str(x) for x in parts if x)


def _bigquery_native_write(ctx: ModuleContext, p: dict, table: str) -> None:
    method = str(p.get("method") or "FILE_LOADS").upper()
    factory = p.get(
        "clientFactory", "pipeline_spark.sinks.connectors:default_bigquery_write_client"
    )
    if ctx.input.isStreaming and method == "FILE_LOADS":
        method = "STORAGE_WRITE_API"  # BigQueryIO's streaming default
    if method == "FILE_LOADS":
        import tempfile
        import uuid

        staging_root = p.get("customGcsTempLocation") or p.get("temporaryGcsBucket")
        local = staging_root is None
        if local:
            master = ctx.spark.conf.get("spark.master", "")
            if not master.startswith("local"):
                # executors would stage parquet shards to THEIR OWN /tmp;
                # the driver-side load job would then silently load a
                # partial (or empty) subset — refuse instead
                raise ValueError(
                    "bigquery FILE_LOADS on a multi-node cluster needs a "
                    "shared staging location: set temporaryGcsBucket / "
                    "customGcsTempLocation (driver-local tempdir staging "
                    "is only valid on local masters)"
                )
            staging_root = tempfile.mkdtemp(prefix="bq_load_")
        stage = f"{str(staging_root).rstrip('/')}/{uuid.uuid4().hex}"
        from pipeline_spark.operators.ml import resolve_factory

        client = resolve_factory(factory)(dict(p))  # fail before staging I/O
        ctx.input.write.mode("overwrite").parquet(stage)
        try:
            client.load_parquet(
                f"{stage}/*.parquet",
                {
                    "table": table,
                    "writeDisposition": str(
                        p.get("writeDisposition", "WRITE_EMPTY")
                    ).upper(),
                    "createDisposition": str(
                        p.get("createDisposition", "CREATE_NEVER")
                    ).upper(),
                    "partitioningField": p.get("partitioningField"),
                    "clusteringFields": p.get("clusteringFields") or [],
                },
            )
        finally:
            if local:
                import shutil

                shutil.rmtree(staging_root, ignore_errors=True)
    elif method in (
        "STREAMING_INSERTS",
        "STORAGE_WRITE_API",
        "STORAGE_API_AT_LEAST_ONCE",
    ):
        write_mutations(
            ctx.input,
            factory_path=factory,
            params={**p, "method": method},
            batch_size=int(p.get("batchSize", 500)),
            to_mutations=_row_mutations(
                table,
                p.get("mutationOpField", "__op__"),
                str(p.get("mutationType", "INSERT")).upper(),
            ),
        )
    else:
        raise ValueError(f"bigquery sink: unsupported method '{method}'")


@module("iceberg", kind=KIND_SINK)
def iceberg_sink(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    maintenance = str(p.get("mode", "")).lower()
    if maintenance in (
        "compact", "expire", "delete", "update", "equalitydelete", "alter",
        "rollback", "tag", "rewritemanifests", "removeorphans", "clone",
    ):
        # table maintenance/mutation: the table is the operand, not the input
        from pipeline_spark.sinks.iceberg_native import (
            alter_iceberg_native,
            compact_iceberg_native,
            delete_iceberg_native,
            equality_delete_iceberg_native,
            expire_iceberg_native,
            remove_orphans_iceberg_native,
            rewrite_manifests_iceberg_native,
            rollback_iceberg_native,
            tag_iceberg_native,
            update_iceberg_native,
        )

        if maintenance == "update":
            update_iceberg_native(ctx.spark, p)
        elif maintenance == "compact":
            compact_iceberg_native(ctx.spark, p)
        elif maintenance == "rewritemanifests":
            rewrite_manifests_iceberg_native(ctx.spark, p)
        elif maintenance == "removeorphans":
            remove_orphans_iceberg_native(ctx.spark, p)
        elif maintenance == "clone":
            from pipeline_spark.sinks.iceberg_native import (
                clone_iceberg_native,
            )

            clone_iceberg_native(ctx.spark, p)
        elif maintenance == "expire":
            expire_iceberg_native(ctx.spark, p)
        elif maintenance == "alter":
            alter_iceberg_native(ctx.spark, p)
        elif maintenance == "rollback":
            rollback_iceberg_native(ctx.spark, p)
        elif maintenance == "tag":
            tag_iceberg_native(ctx.spark, p)
        elif maintenance == "equalitydelete":
            # CDC shape: the module INPUT is the keys frame (p['values']
            # works too for config-literal keys)
            equality_delete_iceberg_native(
                ctx.spark, p,
                keys_df=None if p.get("values") is not None else ctx.input,
            )
        else:
            delete_iceberg_native(ctx.spark, p)
        return {"": ctx.input}
    if maintenance == "upsert" and not ctx.input.isStreaming:
        # one-commit keyed upsert: the module INPUT is the mutation batch
        from pipeline_spark.sinks.iceberg_native import upsert_iceberg_native

        upsert_iceberg_native(ctx.spark, ctx.input, p)
        return {"": ctx.input}
    if ctx.input.isStreaming:
        # streaming: one native commit per micro-batch (append/overwrite-
        # first-batch, or mode: upsert = the one-commit keyed CDC shape).
        # Exactly-once under checkpoint replay: each commit carries txn
        # (appId, batchId), stamped into its snapshot summary; a replayed
        # batch at or below the recorded high-water no-ops, before
        # staging and on every rebase — Flink's checkpoint-id-in-summary
        # pattern, and Delta's txn rule.
        from pipeline_spark.sinks.iceberg_native import (
            upsert_iceberg_native,
            write_iceberg_native,
        )

        table_key = p.get("table") or p.get("path")
        if not table_key:
            raise ValueError("iceberg sink: 'path' (or 'table') is required")
        checkpoint = p.get(
            "checkpointLocation", str(table_key).rstrip("/") + "_checkpoint"
        )
        app_id = str(p.get("txnAppId", f"pipeline_spark::{checkpoint}"))
        first_mode = str(p.get("mode", "append")).lower()

        def write_batch(bdf, batch_id: int) -> None:
            if bdf.isEmpty():
                return
            txn = (app_id, int(batch_id))
            if first_mode in ("upsert", "merge"):
                # streaming CDC: EVERY micro-batch merges by key — the
                # one-commit equality-delete shape (O(batch), no scan);
                # __op__ DELETE rows remove their keys.  `merge` and
                # `upsert` are the same commit in MOR.
                upsert_iceberg_native(ctx.spark, bdf, p, txn=txn)
                return
            mode_b = first_mode if batch_id == 0 else "append"
            write_iceberg_native(bdf, {**p, "mode": mode_b}, txn=txn)

        write_batches(
            ctx.input,
            write_batch,
            checkpoint=checkpoint,
            output_mode=p.get("outputMode", "append"),
            wait=p.get("await", True),
        )
        return {"": ctx.input}
    try:
        _require_connector(ctx, "iceberg", "org.apache.iceberg.spark.SparkCatalog")
    except RuntimeError:
        # no runtime jar: filesystem tables still commit natively — Spark
        # writes the parquet data files, then the stdlib OCF encoder writes
        # the v2 manifests/manifest-list/metadata JSON around them
        # (sinks/iceberg_native.py); catalog URIs and partition transforms
        # still need the jar and say so
        from pipeline_spark.sinks.iceberg_native import write_iceberg_native

        write_iceberg_native(ctx.input, p)
        return {"": ctx.input}
    table = p["table"]
    mode = str(p.get("mode", "append")).lower()
    if mode == "append":
        ctx.input.writeTo(table).append()
    elif mode in ("overwrite", "replace"):
        ctx.input.writeTo(table).createOrReplace()
    else:
        raise ValueError(f"iceberg sink: unsupported mode '{mode}'")
    return {"": ctx.input}


def _row_mutations(target: str, op_field: str, default_op: str):
    """Row dict → one mutation: op from the ``op_field`` column (falls
    back to ``default_op``), the op column stripped from the row."""

    def to_mutations(d: dict) -> tuple[dict]:
        op = d.pop(op_field, None) or default_op
        return ({"op": str(op).upper(), "table": target, "row": d},)

    return to_mutations


def _client_sink(name: str, default_factory: str, target_keys: tuple[str, ...]):
    @module(name, kind=KIND_SINK)
    def sink(ctx: ModuleContext) -> dict[str, DataFrame]:
        p = ctx.params
        target = next((p[k] for k in target_keys if p.get(k)), None)
        if target is None:
            raise ValueError(f"{name} sink requires one of {target_keys}")
        write_mutations(
            ctx.input,
            factory_path=p.get("clientFactory", default_factory),
            params=dict(p),
            batch_size=int(p.get("batchSize", 500)),
            to_mutations=_row_mutations(
                str(target),
                p.get("mutationOpField", "__op__"),
                str(p.get("mutationOp", "UPSERT")).upper(),
            ),
        )
        return {"": ctx.input}

    sink.__name__ = f"{name}_sink"
    return sink


# target_keys mirror each reference sink's addressing parameter
# (SpannerSink: table; FirestoreSink: collection; DatastoreSink: kind;
# BigtableSink: tableId; PubSubSink: topic)
spanner_sink = _client_sink(
    "spanner", "pipeline_spark.sinks.connectors:default_spanner_client", ("table",)
)
firestore_sink = _client_sink(
    "firestore",
    "pipeline_spark.sinks.connectors:default_firestore_client",
    ("collection", "table"),
)
datastore_sink = _client_sink(
    "datastore",
    "pipeline_spark.sinks.connectors:default_datastore_client",
    ("kind", "table"),
)
bigtable_sink = _client_sink(
    "bigtable",
    "pipeline_spark.sinks.connectors:default_bigtable_write_client",
    ("tableId", "table"),
)
pubsub_sink = _client_sink(
    "pubsub", "pipeline_spark.sinks.connectors:default_pubsub_client", ("topic",)
)


def _sdk_gate(sdk_module: str, name: str):
    try:
        return __import__(sdk_module, fromlist=["_"])
    except ImportError:
        raise RuntimeError(
            f"{name} sink requires the '{sdk_module}' SDK (not installed in "
            f"this environment); pass clientFactory to inject another client"
        ) from None


def default_spanner_client(params: dict):
    """Mutation batches via the Spanner SDK (SpannerSink.java:32-1066):
    op→mutation kind, key columns from the table's primary key."""
    spanner = _sdk_gate("google.cloud.spanner", "spanner")
    db = (
        spanner.Client(project=params.get("projectId"))
        .instance(params["instanceId"])
        .database(params["databaseId"])
    )

    class _Client:
        def write(self, mutations):
            with db.batch() as batch:
                for m in mutations:
                    cols = list(m["row"])
                    vals = [m["row"][c] for c in cols]
                    op = m["op"]
                    if op == "INSERT":
                        batch.insert(m["table"], columns=cols, values=[vals])
                    elif op == "UPDATE":
                        batch.update(m["table"], columns=cols, values=[vals])
                    elif op == "REPLACE":
                        batch.replace(m["table"], columns=cols, values=[vals])
                    elif op == "DELETE":
                        keys = params.get("keyFields") or cols[:1]
                        batch.delete(
                            m["table"],
                            spanner.KeySet(keys=[[m["row"][k] for k in keys]]),
                        )
                    else:  # UPSERT
                        batch.insert_or_update(m["table"], columns=cols, values=[vals])

    return _Client()


def default_firestore_client(params: dict):
    firestore = _sdk_gate("google.cloud.firestore", "firestore")
    client = firestore.Client(project=params.get("projectId"))
    key_field = params.get("keyField", "id")

    class _Client:
        def write(self, mutations):
            batch = client.batch()
            for m in mutations:
                doc_id = str(m["row"].get(key_field))
                ref = client.collection(m["table"]).document(doc_id)
                if m["op"] == "DELETE":
                    batch.delete(ref)
                else:
                    batch.set(ref, m["row"], merge=(m["op"] in ("UPDATE", "UPSERT")))
            batch.commit()

    return _Client()


def default_datastore_client(params: dict):
    datastore = _sdk_gate("google.cloud.datastore", "datastore")
    client = datastore.Client(project=params.get("projectId"))
    key_field = params.get("keyField", "id")

    class _Client:
        def write(self, mutations):
            puts, deletes = [], []
            for m in mutations:
                key = client.key(m["table"], m["row"].get(key_field))
                if m["op"] == "DELETE":
                    deletes.append(key)
                else:
                    entity = datastore.Entity(key=key)
                    entity.update(m["row"])
                    puts.append(entity)
            if puts:
                client.put_multi(puts)
            if deletes:
                client.delete_multi(deletes)

    return _Client()


def default_bigtable_write_client(params: dict):
    bigtable = _sdk_gate("google.cloud.bigtable", "bigtable")
    table = (
        bigtable.Client(project=params.get("projectId"), admin=False)
        .instance(params["instanceId"])
        .table(params.get("tableId") or params.get("table"))
    )
    key_field = params.get("keyField", "key")
    family = params.get("columnFamily", "cf")

    class _Client:
        def write(self, mutations):
            rows = []
            for m in mutations:
                row_key = str(m["row"].get(key_field)).encode()
                drow = table.direct_row(row_key)
                if m["op"] == "DELETE":
                    drow.delete()
                else:
                    for col, val in m["row"].items():
                        if col == key_field:
                            continue
                        drow.set_cell(family, col.encode(), str(val).encode())
                rows.append(drow)
            table.mutate_rows(rows)

    return _Client()


def default_bigquery_write_client(params: dict):
    """BigQuery write client over the public SDK (BigQuerySink.java's two
    BigQueryIO shapes):

      load_parquet(uri_glob, cfg)  one load job per write — gs:// staging
                                   loads by URI (server-side, zero data
                                   motion), local staging streams each
                                   file through load_table_from_file.
      write(mutations)             insert_rows_json batches (streaming
                                   inserts).  UPSERT/DELETE mutation ops
                                   need the Storage Write API CDC protocol
                                   (not expressible over insertAll) and
                                   raise an actionable error.
    """
    bigquery = _sdk_gate("google.cloud.bigquery", "bigquery")
    client = bigquery.Client(project=params.get("projectId"))

    _DISP = {
        "WRITE_EMPTY": "WRITE_EMPTY",
        "WRITE_APPEND": "WRITE_APPEND",
        "WRITE_TRUNCATE": "WRITE_TRUNCATE",
    }

    class _Client:
        def load_parquet(self, uri_glob: str, cfg: dict):
            job_config = bigquery.LoadJobConfig(
                source_format=bigquery.SourceFormat.PARQUET,
                write_disposition=_DISP.get(cfg["writeDisposition"], "WRITE_EMPTY"),
                create_disposition=cfg["createDisposition"],
            )
            if cfg.get("clusteringFields"):
                job_config.clustering_fields = list(cfg["clusteringFields"])
            if cfg.get("partitioningField"):
                job_config.time_partitioning = bigquery.TimePartitioning(
                    field=cfg["partitioningField"]
                )
            table = cfg["table"]
            if uri_glob.startswith("gs://"):
                client.load_table_from_uri(uri_glob, table, job_config=job_config).result()
                return
            import glob as _glob

            paths = sorted(_glob.glob(uri_glob))
            if not paths:
                raise RuntimeError(
                    f"bigquery load: no staged parquet files at {uri_glob} — "
                    "nothing would be loaded (staging location not shared?)"
                )
            for path in paths:
                with open(path, "rb") as fh:
                    client.load_table_from_file(fh, table, job_config=job_config).result()
                # subsequent files append regardless of the first
                # file's disposition
                job_config.write_disposition = "WRITE_APPEND"

        def write(self, mutations):
            bad_ops = {m["op"] for m in mutations} - {"INSERT"}
            if bad_ops:
                # UPSERT included: insertAll would silently append a
                # duplicate row per upsert, not replace
                raise ValueError(
                    f"bigquery default write client cannot express {sorted(bad_ops)} "
                    "mutation ops over insertAll (an UPSERT would just append a "
                    "duplicate row); CDC needs the Storage Write API protocol — "
                    "inject a CDC-capable clientFactory"
                )
            table = mutations[0]["table"]
            errors = client.insert_rows_json(
                table,
                [m["row"] for m in mutations],
                skip_invalid_rows=bool(params.get("skipInvalidRows", False)),
                ignore_unknown_values=bool(params.get("ignoreUnknownValues", False)),
            )
            if errors:
                raise RuntimeError(f"bigquery insert errors: {errors[:5]}")

    return _Client()


def default_pubsub_client(params: dict):
    pubsub_v1 = _sdk_gate("google.cloud.pubsub_v1", "pubsub")
    publisher = pubsub_v1.PublisherClient()
    topic = params["topic"]

    class _Client:
        def write(self, mutations):
            import json

            futures = [
                publisher.publish(
                    topic, json.dumps(m["row"], default=str).encode()
                )
                for m in mutations
            ]
            for f in futures:
                f.result()

    return _Client()


@module("kafka", kind=KIND_SINK)
def kafka_sink(ctx: ModuleContext) -> dict[str, DataFrame]:
    """`kafka` sink: produce rows to a topic (beyond the reference's sink
    list — its Spark mapping routes pubsub through Kafka, so the pair
    completes the native source).  With the Spark kafka connector jar the
    JVM writer runs; without it the stdlib wire client produces natively.

    Row mapping (computed as Catalyst columns, so serialization stays in
    codegen): ``format: json`` (default) serializes the full row with
    ``to_json``; ``format: raw`` sends ``valueField`` bytes/string as-is.
    ``keyField`` (optional) keys records; keyed records partition with
    the Java client's murmur2 partitioner, unkeyed ones spread
    round-robin per task.

    Scale posture: the driver fetches topic metadata once (KB); each
    executor task groups its rows by target partition and produces
    directly to that partition's leader in ``batchSize`` chunks — no
    driver row motion, parallelism = upstream partitions.  Streaming
    inputs produce per micro-batch via foreachBatch (at-least-once, the
    Spark kafka sink's own contract).
    """
    p = ctx.params
    df = ctx.input
    topic = p.get("topic")
    if not topic:
        raise ValueError("kafka sink: 'topic' is required")
    servers = p["bootstrapServers"]

    fmt = str(p.get("format", "json")).lower()
    key_field = p.get("keyField")
    cols = []
    if fmt == "json":
        data_cols = [c for c in df.columns if c != key_field]
        cols.append(
            F.to_json(F.struct(*[F.col(c) for c in data_cols])).cast("binary").alias("value")
        )
    elif fmt == "raw":
        vf = p.get("valueField", "value")
        cols.append(F.col(vf).cast("binary").alias("value"))
    else:
        raise ValueError(f"kafka sink: unknown format '{fmt}' (json|raw)")
    if key_field:
        cols.append(F.col(key_field).cast("string").cast("binary").alias("key"))
    else:
        cols.append(F.lit(None).cast("binary").alias("key"))
    ts_field = p.get("timestampField")
    if ts_field:
        cols.append((F.col(ts_field).cast("double") * 1000).cast("long").alias("ts"))
    else:
        cols.append(F.lit(None).cast("long").alias("ts"))
    payload = df.select(*cols)

    try:
        _require_connector(
            ctx, "kafka", "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        writer = (
            payload.selectExpr("key", "value")
            .write.format("kafka")
            .option("kafka.bootstrap.servers", servers)
            .option("topic", topic)
        )
        writer.save()
        return {}
    except RuntimeError:
        pass  # no jar: native wire producer below

    from pipeline_spark.functions.kafkawire import (
        KafkaClient,
        partition_for_key,
        security_from_params,
    )

    security = security_from_params(p)
    boot = KafkaClient.bootstrap(servers, security=security)
    try:
        meta = boot.metadata([topic])
    finally:
        boot.close()
    leaders = {
        pidx: meta["brokers"][leader]
        for pidx, leader in meta["topics"][topic].items()
    }
    n_parts = len(leaders)
    acks = int(p.get("acks", -1))
    batch_size = int(p.get("batchSize", 500))
    explicit_part = p.get("partition")
    client_id = str(p.get("clientId", "pipeline-spark"))

    def produce_rows(rows) -> None:
        import time as _time

        clients: dict[int, KafkaClient] = {}
        buffers: dict[int, list[dict]] = {}
        rr = 0

        def flush(pidx: int) -> None:
            buf = buffers.get(pidx)
            if not buf:
                return
            cl = clients.get(pidx)
            if cl is None:
                host, port = leaders[pidx]
                cl = clients[pidx] = KafkaClient(
                    host, port, client_id=client_id, security=security
                )
            cl.produce(topic, pidx, buf, acks=acks)
            buffers[pidx] = []

        try:
            for row in rows:
                if explicit_part is not None:
                    pidx = int(explicit_part)
                elif row["key"] is not None:
                    pidx = partition_for_key(bytes(row["key"]), n_parts)
                else:
                    pidx = sorted(leaders)[rr % n_parts]
                    rr += 1
                ts = row["ts"] if row["ts"] is not None else int(_time.time() * 1000)
                buffers.setdefault(pidx, []).append({
                    "key": bytes(row["key"]) if row["key"] is not None else None,
                    "value": bytes(row["value"]) if row["value"] is not None else None,
                    "timestamp": ts,
                })
                if len(buffers[pidx]) >= batch_size:
                    flush(pidx)
            for pidx in list(buffers):
                flush(pidx)
        finally:
            for cl in clients.values():
                cl.close()

    write_partitions(
        payload,
        produce_rows,
        checkpoint=p.get("checkpointLocation")
        or f"/tmp/pipeline_spark_kafka_sink_{topic}_checkpoint",
        wait=p.get("await", True),
    )
    return {}
