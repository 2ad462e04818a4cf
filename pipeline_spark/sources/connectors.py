"""Cloud-connector sources: bigquery / spanner / firestore / datastore /
bigtable / pubsub / kafka / iceberg / drivefile.

Reference surface (SURVEY §2.6): module/source/{BigQuery,Spanner,Firestore,
Datastore,Bigtable,PubSub,Kafka,Iceberg,DriveFile}Source.java.  Spark-first
mapping (native connectors, not Beam IO translations):

  bigquery   spark.read.format("bigquery") — query or table
  iceberg    spark.read.format("iceberg") / catalog table
  kafka      spark.readStream.format("kafka") + from_json/from_avro/
             from_protobuf payload decode (KafkaSource.java:120-125)
  pubsub     Pub/Sub Lite connector or Kafka bridge
  others     driver/foreachBatch SDK reads

Connectors resolve lazily with actionable errors when the jar/SDK is
absent (none bundled here); config surfaces match the reference so
pipelines validate end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pipeline_spark.functions.jvmclass import jvm_class_present
from pipeline_spark.functions.localframe import local_frame
from pipeline_spark.registry import KIND_SOURCE, ModuleContext, module


def _require_class(ctx: ModuleContext, fmt: str, cls: str) -> None:
    # cached per (gateway, class): the probe costs ~5 py4j round-trips and
    # its answer is fixed for the JVM's lifetime
    if not jvm_class_present(ctx.spark, cls):
        raise RuntimeError(
            f"{fmt} source requires its Spark connector on the classpath "
            f"(missing {cls}); add it via spark.jars.packages"
        )


@module("bigquery", kind=KIND_SOURCE)
def bigquery_source(ctx: ModuleContext) -> dict[str, DataFrame]:
    """BigQuery batch read (reference: BigQuerySource.java:40-486 — query
    or projectId/datasetId/table + fields + rowRestriction).

    Jar present: the spark-bigquery connector (full DataSource pushdown).
    Jar absent: an injectable Storage-Read-API-style client — the driver
    plans N read streams (with ``fields`` column pruning and
    ``rowRestriction`` predicate pushdown applied server-side in the read
    session, the same pushdown the connector does), each executor task
    drains ONE stream as Arrow batches, so the read scales with
    ``maxStreams`` and the driver never holds row data.
    """
    p = ctx.params
    if not (p.get("query") or p.get("table") or p.get("datasetId")):
        raise ValueError("bigquery source requires query or table")
    try:
        _require_class(
            ctx, "bigquery", "com.google.cloud.spark.bigquery.BigQueryRelationProvider"
        )
    except RuntimeError:
        factory = p.get(
            "clientFactory", f"{_HERE}:default_bigquery_read_client"
        )
        return {"": _read_with_client(ctx, factory)}
    reader = ctx.spark.read.format("bigquery")
    if p.get("query"):
        reader = reader.option("query", p["query"]).option("viewsEnabled", "true")
    else:
        reader = reader.option("table", _bq_table_ref(p))
        if p.get("fields"):
            fields = p["fields"]
            reader = reader.option(
                "selectedFields",
                ",".join(fields) if isinstance(fields, list) else str(fields),
            )
        if p.get("rowRestriction"):
            reader = reader.option("filter", p["rowRestriction"])
    return {"": reader.load()}


def _bq_table_ref(params: dict) -> str:
    """``project.dataset.table`` from either the combined ``table`` param
    (``proj:ds.t`` / ``proj.ds.t`` / ``ds.t``) or the split
    projectId/datasetId/table(Id) params — BigQuerySource.Parameters
    setDefaults semantics."""
    table = params.get("table") or params.get("tableId")
    if table and ("." in table or ":" in table):
        return str(table).replace(":", ".", 1)
    parts = [
        params.get("projectId"),
        params.get("datasetId"),
        table,
    ]
    return ".".join(str(x) for x in parts if x)


@module("iceberg", kind=KIND_SOURCE)
def iceberg_source(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    if p.get("metadataTable"):
        from pipeline_spark.sources.iceberg_native import (
            read_iceberg_metadata_table,
        )

        return {"": read_iceberg_metadata_table(ctx.spark, p)}
    if p.get("changelog"):
        # CDC consumption: ``checkpointFile`` turns the changelog into an
        # incremental feed — each run consumes (checkpointed snapshot,
        # current] and advances the high-water, the microbatch source's
        # resume pattern applied to snapshot ids
        import json as _json
        import os as _os

        from pipeline_spark.sources.iceberg_native import (
            read_iceberg_changelog,
        )

        q = dict(p)
        cp = p.get("checkpointFile")
        if cp and "fromSnapshotId" not in p and _os.path.exists(cp):
            with open(cp) as fh:
                q["fromSnapshotId"] = _json.load(fh)["snapshot-id"]
        # the changelog reports the INCLUSIVE snapshot bound it actually
        # read; checkpointing anything else (e.g. re-reading
        # current-snapshot-id afterwards) races with concurrent commits
        # and skips them forever.  The write itself is deferred to
        # post-commit (microbatch's CheckpointSaveDoFn pattern): a
        # downstream sink failure must not advance the high-water.
        info: dict = {}
        df = read_iceberg_changelog(ctx.spark, q, info=info)
        if cp:
            consumed = info["toSnapshotId"]

            def _write_checkpoint() -> None:
                _os.makedirs(_os.path.dirname(cp) or ".", exist_ok=True)
                with open(cp, "w") as fh:
                    _json.dump({"snapshot-id": consumed}, fh)

            ctx.on_commit(_write_checkpoint)
        return {"": df}
    if str(p.get("mode", "")).lower() == "streaming":
        from pipeline_spark.sources.iceberg_stream import (
            read_iceberg_stream_native,
        )

        return {"": read_iceberg_stream_native(ctx.spark, p)}
    try:
        _require_class(ctx, "iceberg", "org.apache.iceberg.spark.SparkCatalog")
    except RuntimeError:
        # no runtime jar: filesystem tables still read natively — JSON
        # metadata + avro manifests via the stdlib OCF reader resolve the
        # snapshot's parquet files (sources/iceberg_native.py); catalog
        # URIs and v2 delete files still need the jar and say so
        from pipeline_spark.sources.iceberg_native import read_iceberg_native

        return {"": read_iceberg_native(ctx.spark, p)}
    return {"": ctx.spark.read.format("iceberg").load(p["table"])}


def _kafka_native_batch(ctx: ModuleContext, p: dict) -> DataFrame:
    """Bounded batch read over the public Kafka wire protocol — no jar, no
    SDK (functions/kafkawire.py).  Offset range plans driver-side
    (Metadata + ListOffsets, KB-sized); each executor task fetches ONE
    partition's [start, end) from its leader, so the read scales with
    partition count.  Output schema mirrors the Spark kafka connector:
    key/value binary + topic/partition/offset/timestamp/timestampType."""
    import datetime as dt
    import json as _json
    import os

    from pipeline_spark.functions.kafkawire import (
        EARLIEST,
        LATEST,
        KafkaClient,
        read_partition_range,
        security_from_params,
    )

    servers = p["bootstrapServers"]
    security = security_from_params(p)
    topic = p.get("topic") or p.get("topics")
    if not topic or "," in str(topic):
        raise ValueError("kafka native batch reads one topic per module")

    def _bounds(cfg, default_ts):
        """startingOffsets/endingOffsets: earliest|latest|{'topic':{'0':N}}"""
        if isinstance(cfg, str) and cfg.strip().startswith("{"):
            cfg = _json.loads(cfg)
        if isinstance(cfg, dict):
            return {int(k): int(v) for k, v in (cfg.get(topic) or cfg).items()}
        return {"earliest": EARLIEST, "latest": LATEST}.get(
            str(cfg or "").lower(), default_ts
        )

    start_cfg = _bounds(p.get("startingOffsets"), EARLIEST)
    end_cfg = _bounds(p.get("endingOffsets"), LATEST)
    # microbatch mode: resume from the checkpointed offsets of the last
    # committed run, consume up to current latest, checkpoint on commit —
    # the same incremental contract as the microbatch source
    checkpoint_file = p.get("checkpointFile")
    committed: dict[int, int] = {}
    if checkpoint_file and os.path.exists(checkpoint_file):
        with open(checkpoint_file) as fh:
            committed = {int(k): int(v) for k, v in _json.load(fh).items()}
    boot = KafkaClient.bootstrap(servers, security=security)
    try:
        partitions = sorted(boot.metadata([topic])["topics"][topic])
        descs = []
        next_offsets: dict[int, int] = {}
        for part in partitions:
            if part in committed:
                start = committed[part]
            elif isinstance(start_cfg, dict):
                start = start_cfg.get(part, 0)
            else:
                start = boot.list_offset(topic, part, start_cfg)
            if isinstance(end_cfg, dict):
                end = end_cfg.get(part)
                if end is None:
                    end = boot.list_offset(topic, part, LATEST)
            else:
                end = boot.list_offset(topic, part, end_cfg)
            next_offsets[part] = max(start, end)
            if end > start:
                descs.append((part, start, end))
    finally:
        boot.close()
    if checkpoint_file:

        def _commit_offsets() -> None:
            tmp = f"{checkpoint_file}.tmp"
            with open(tmp, "w") as fh:
                _json.dump({str(k): v for k, v in next_offsets.items()}, fh)
            os.replace(tmp, checkpoint_file)

        ctx.on_commit(_commit_offsets)

    schema = (
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int"
    )
    sc = ctx.spark.sparkContext
    if not descs:
        return local_frame(ctx.spark, [], schema)

    def read_part(desc):
        part, start, end = desc
        for rec in read_partition_range(
            servers, topic, part, start, end, security=security
        ):
            ts = rec["timestamp"]
            yield (
                rec["key"],
                rec["value"],
                topic,
                part,
                rec["offset"],
                # NO_TIMESTAMP (-1) → null, not a 1969 epoch artifact
                dt.datetime.fromtimestamp(ts / 1000.0, dt.timezone.utc)
                if ts is not None and ts >= 0
                else None,
                0,
            )

    rdd = sc.parallelize(descs, len(descs)).flatMap(read_part)
    return ctx.spark.createDataFrame(rdd, schema)


@module("kafka", kind=KIND_SOURCE)
def kafka_source(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    try:
        _require_class(
            ctx, "kafka", "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except RuntimeError:
        # no connector jar: PLAINTEXT brokers still read natively over the
        # public wire protocol — bounded batch (startingOffsets →
        # endingOffsets) or TRUE streaming through the Spark 4 Python
        # DataSource API (sources/kafka_stream.py: Spark's own offset
        # log/checkpointing drives the wire client)
        if str(p.get("mode", "batch")).lower() not in ("batch", "microbatch"):
            from pipeline_spark.sources.kafka_stream import (
                read_kafka_stream_native,
            )

            df = read_kafka_stream_native(ctx.spark, p)
        else:
            df = _kafka_native_batch(ctx, p)
        fmt = str(p.get("format", "raw")).lower()
        if fmt in ("json", "avro", "protobuf"):
            from pipeline_spark.operators.deserialize import deserialize_transform
            from pipeline_spark.registry import ModuleContext as MC

            sub = MC(
                spark=ctx.spark,
                name=ctx.name,
                params={"field": "value", "format": fmt, **p.get("deserialize", {})},
                inputs=[df],
                input_names=["kafka"],
                config=ctx.config,
            )
            return deserialize_transform(sub)
        return {"": df}
    reader = (
        ctx.spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", p["bootstrapServers"])
        .option("subscribe", p.get("topic") or p.get("topics"))
        .option("startingOffsets", p.get("startingOffsets", "latest"))
    )
    df = reader.load()
    fmt = str(p.get("format", "json")).lower()
    if fmt in ("json", "avro", "protobuf"):
        # payload decode mirrors Serialize.Format
        # (reference: util/pipeline/Serialize.java:32-38)
        from pipeline_spark.operators.deserialize import deserialize_transform
        from pipeline_spark.registry import ModuleContext as MC

        sub = MC(
            spark=ctx.spark,
            name=ctx.name,
            params={"field": "value", "format": fmt, **p.get("deserialize", {})},
            inputs=[df],
            input_names=["kafka"],
            config=ctx.config,
        )
        return deserialize_transform(sub)
    return {"": df}


def _read_with_client(ctx: ModuleContext, factory_path: str) -> DataFrame:
    """Distributed SDK read through an injectable client.

    Client contract (factory is a ``pkg.mod:fn`` dotted path called with
    the module params, mirroring the sink/transform pattern):

      plan_partitions() -> list        picklable partition descriptors,
                                       planned driver-side (Spanner
                                       partitionQuery, Bigtable key-range
                                       splits, …); ``[None]`` = single
      read_partition(desc) -> [dict]   executed EXECUTOR-side, one task
                                       per descriptor

    Rows land as an RDD of dicts, one partition per descriptor — the
    read scales with partition count, the driver never holds row data.
    With a config ``schema`` rows bind typed; otherwise rows round-trip
    through JSON inference (convenient, but declare a schema for stable
    contracts).
    """
    from pipeline_spark.operators.ml import resolve_factory

    p = dict(ctx.params)
    client = resolve_factory(factory_path)(p)
    descs = list(client.plan_partitions()) or [None]
    # Non-replayable sources (pubsub) pull driver-side in plan_partitions
    # and defer destructive acknowledgements until every sink succeeded —
    # executor tasks may re-run, so read_partition must stay idempotent.
    if callable(getattr(client, "on_commit", None)):
        ctx.on_commit(client.on_commit)

    sc = ctx.spark.sparkContext

    def read_part(desc):
        part_client = resolve_factory(factory_path)(p)
        return part_client.read_partition(desc)

    rdd = sc.parallelize(descs, len(descs)).flatMap(read_part)

    schema_cfg = ctx.config.get("schema")
    fields = (schema_cfg or {}).get("fields") if isinstance(schema_cfg, dict) else schema_cfg
    if fields:
        from pipeline_spark.sources.create import build_schema

        schema = build_schema(fields)
        names = [f.name for f in schema.fields]
        typed = rdd.map(lambda d: tuple(d.get(n) for n in names))
        return ctx.spark.createDataFrame(typed, schema=schema)
    import json

    return ctx.spark.read.json(rdd.map(lambda d: json.dumps(d, default=str)))


def _sdk_source(name: str, default_factory: str):
    @module(name, kind=KIND_SOURCE)
    def source(ctx: ModuleContext) -> dict[str, DataFrame]:
        factory = ctx.params.get("clientFactory", default_factory)
        return {"": _read_with_client(ctx, factory)}

    source.__name__ = f"{name}_source"
    return source


_HERE = "pipeline_spark.sources.connectors"
spanner_source = _sdk_source("spanner", f"{_HERE}:default_spanner_read_client")
firestore_source = _sdk_source("firestore", f"{_HERE}:default_firestore_read_client")
datastore_source = _sdk_source("datastore", f"{_HERE}:default_datastore_read_client")
bigtable_source = _sdk_source("bigtable", f"{_HERE}:default_bigtable_read_client")
drivefile_source = _sdk_source("drivefile", f"{_HERE}:default_drivefile_read_client")


@module("pubsub", kind=KIND_SOURCE)
def pubsub_source(ctx: ModuleContext) -> dict[str, DataFrame]:
    """batch = bounded catch-up pull (replay-safe, ack-on-commit);
    mode: streaming = TRUE streaming on the Python DataSource API, where
    Spark's prefetch-and-cache contract carries the at-least-once pull
    semantics (sources/pubsub_stream.py)."""
    p = ctx.params
    if str(p.get("mode", "batch")).lower() in ("streaming", "microbatch"):
        from pipeline_spark.sources.pubsub_stream import read_pubsub_stream_native

        return {"": read_pubsub_stream_native(ctx.spark, p)}
    factory = p.get("clientFactory", f"{_HERE}:default_pubsub_read_client")
    return {"": _read_with_client(ctx, factory)}


def _sdk_gate(sdk_module: str, name: str):
    try:
        return __import__(sdk_module, fromlist=["_"])
    except ImportError:
        raise RuntimeError(
            f"{name} source requires the '{sdk_module}' SDK (not installed in "
            f"this environment); pass clientFactory to inject another client"
        ) from None


def default_spanner_read_client(params: dict):
    """Partitioned Spanner query (reference: SpannerSource.java uses
    BatchClient partitionQuery): partition tokens plan driver-side, each
    executor task reads its own partition."""
    spanner = _sdk_gate("google.cloud.spanner", "spanner")
    client = spanner.Client(project=params.get("projectId"))
    instance = client.instance(params["instanceId"])
    db = instance.database(params["databaseId"])
    sql = params.get("query") or f"SELECT * FROM {params['table']}"

    class _Client:
        def plan_partitions(self):
            snapshot = db.batch_snapshot()
            return list(snapshot.generate_query_batches(sql))

        def read_partition(self, batch):
            snapshot = db.batch_snapshot()
            rows = snapshot.process_query_batch(batch)
            cols = [f.name for f in rows.fields]
            return [dict(zip(cols, r)) for r in rows]

    return _Client()


def default_firestore_read_client(params: dict):
    firestore = _sdk_gate("google.cloud.firestore", "firestore")
    client = firestore.Client(project=params.get("projectId"))
    collection = params.get("collection") or params["table"]

    class _Client:
        def plan_partitions(self):
            # Firestore partition API exists for collection groups only;
            # plain collections read as one partition
            return [None]

        def read_partition(self, _desc):
            return [
                {**doc.to_dict(), "__id__": doc.id}
                for doc in client.collection(collection).stream()
            ]

    return _Client()


def default_datastore_read_client(params: dict):
    datastore = _sdk_gate("google.cloud.datastore", "datastore")
    client = datastore.Client(project=params.get("projectId"))
    kind = params.get("kind") or params["table"]

    class _Client:
        def plan_partitions(self):
            return [None]

        def read_partition(self, _desc):
            q = client.query(kind=kind)
            if params.get("gql"):
                raise ValueError("datastore source: use 'kind' (+filters); raw GQL needs the REST API")
            for f in params.get("filters") or []:
                q.add_filter(f["key"], f.get("op", "="), f["value"])
            return [{**dict(e), "__key__": e.key.id_or_name} for e in q.fetch()]

    return _Client()


def default_bigtable_read_client(params: dict):
    bigtable = _sdk_gate("google.cloud.bigtable", "bigtable")
    table = (
        bigtable.Client(project=params.get("projectId"), admin=False)
        .instance(params["instanceId"])
        .table(params.get("tableId") or params["table"])
    )

    class _Client:
        def plan_partitions(self):
            # sample_row_keys gives natural tablet split points
            keys = [s.row_key for s in table.sample_row_keys()]
            bounds = [None, *keys, None]
            return list(zip(bounds[:-1], bounds[1:])) or [None]

        def read_partition(self, desc):
            start, end = desc if desc else (None, None)
            out = []
            for row in table.read_rows(start_key=start, end_key=end):
                cells = {
                    f"{fam}:{q.decode('utf-8', 'replace')}": cs[0].value.decode("utf-8", "replace")
                    for fam, quals in row.cells.items()
                    for q, cs in quals.items()
                }
                out.append({"key": row.row_key.decode("utf-8", "replace"), **cells})
            return out

    return _Client()


def default_pubsub_read_client(params: dict):
    """Bounded catch-up pull (maxMessages, default 1000) — the batch-mode
    analogue of the reference's streaming PubSubSource; true streaming
    needs the Pub/Sub Lite connector (documented divergence).

    Pub/Sub pull is destructive once acked, and Spark may re-execute a
    partition (schema inference pass, retry, second action), so the pull
    happens ONCE driver-side in plan_partitions; read_partition replays
    the pulled batch verbatim, and the acknowledge is deferred to
    on_commit, which the executor runs only after every sink succeeded."""
    pubsub_v1 = _sdk_gate("google.cloud.pubsub_v1", "pubsub")
    subscriber = pubsub_v1.SubscriberClient()
    subscription = params["subscription"]
    max_messages = int(params.get("maxMessages", 1000))

    class _Client:
        def __init__(self):
            self._ack_ids: list = []

        def plan_partitions(self):
            import json

            resp = subscriber.pull(
                request={"subscription": subscription, "max_messages": max_messages}
            )
            rows = []
            for m in resp.received_messages:
                self._ack_ids.append(m.ack_id)
                data = m.message.data.decode("utf-8", "replace")
                try:
                    payload = json.loads(data)
                except ValueError:
                    payload = {"data": data}
                rows.append({**payload, "__message_id__": m.message.message_id})
            # one descriptor carrying the payload batch; rows are small
            # (bounded by maxMessages) and picklable
            return [rows]

        def read_partition(self, rows):
            return rows or []

        def on_commit(self):
            for i in range(0, len(self._ack_ids), 1000):
                subscriber.acknowledge(
                    request={
                        "subscription": subscription,
                        "ack_ids": self._ack_ids[i : i + 1000],
                    }
                )
            self._ack_ids = []

    return _Client()


def default_bigquery_read_client(params: dict):
    """Storage-Read-API partitioned read (reference: BigQuerySource.java
    uses DIRECT_READ with DataFormat AVRO/ARROW).

    plan_partitions (driver): run the query job if ``query`` is set (its
    destination temp table becomes the read target), then open a read
    session with ``fields`` → selected_fields (column pruning) and
    ``rowRestriction`` → row_restriction (predicate pushdown) applied
    SERVER-side, max_stream_count = ``maxStreams`` (default 32).  Each
    descriptor is one stream name + the session's serialized Arrow
    schema — picklable, tiny.

    read_partition (executor): drain one stream's Arrow record batches
    via pyarrow.ipc and yield dict rows.  Parallelism = stream count;
    BigQuery balances rows across streams, so no skew planning needed.
    """
    bigquery = _sdk_gate("google.cloud.bigquery", "bigquery")
    try:
        from google.cloud import bigquery_storage_v1
    except ImportError:
        raise RuntimeError(
            "bigquery source (native path) requires the "
            "'google-cloud-bigquery-storage' SDK; pass clientFactory to "
            "inject another client or add the spark-bigquery connector jar"
        ) from None

    project = params.get("queryRunProjectId") or params.get("projectId")

    class _Client:
        def plan_partitions(self):
            client = bigquery.Client(project=project)
            if params.get("query"):
                job = client.query(params["query"])
                job.result()  # wait; destination is a temp table
                dest = job.destination
                table_path = (
                    f"projects/{dest.project}/datasets/{dest.dataset_id}"
                    f"/tables/{dest.table_id}"
                )
            else:
                parts = _bq_table_ref(params).split(".")
                if len(parts) == 2:  # 'ds.t' — default the client's project
                    parts = [client.project, *parts]
                if len(parts) != 3:
                    raise ValueError(
                        f"bigquery source: cannot resolve table ref "
                        f"{'.'.join(parts)!r} to project.dataset.table"
                    )
                proj, ds, tbl = parts
                table_path = f"projects/{proj}/datasets/{ds}/tables/{tbl}"
            storage = bigquery_storage_v1.BigQueryReadClient()
            fields = params.get("fields") or []
            if isinstance(fields, str):
                fields = [f.strip() for f in fields.split(",") if f.strip()]
            session = storage.create_read_session(
                parent=f"projects/{client.project}",
                read_session=bigquery_storage_v1.types.ReadSession(
                    table=table_path,
                    data_format=bigquery_storage_v1.types.DataFormat.ARROW,
                    read_options=bigquery_storage_v1.types.ReadSession.TableReadOptions(
                        selected_fields=fields,
                        row_restriction=params.get("rowRestriction") or "",
                    ),
                ),
                max_stream_count=int(params.get("maxStreams", 32)),
            )
            schema_bytes = session.arrow_schema.serialized_schema
            return [
                {"stream": s.name, "arrow_schema": bytes(schema_bytes)}
                for s in session.streams
            ]

        def read_partition(self, desc):
            import io

            import pyarrow.ipc as pa_ipc

            storage = bigquery_storage_v1.BigQueryReadClient()
            schema = pa_ipc.read_schema(io.BytesIO(desc["arrow_schema"]))
            for resp in storage.read_rows(read_stream=desc["stream"]):
                batch = pa_ipc.read_record_batch(
                    io.BytesIO(resp.arrow_record_batch.serialized_record_batch),
                    schema,
                )
                yield from batch.to_pylist()

    return _Client()


def default_drivefile_read_client(params: dict):
    """Drive file listing+download (reference: DriveFileSource.java)."""
    _sdk_gate("googleapiclient", "drivefile")
    from googleapiclient.discovery import build as g_build

    service = g_build("drive", "v3")
    query = params.get("query") or f"'{params.get('folderId', 'root')}' in parents"

    class _Client:
        def plan_partitions(self):
            files, token = [], None
            while True:
                resp = (
                    service.files()
                    .list(q=query, pageToken=token, fields="nextPageToken, files(id, name, mimeType, size)")
                    .execute()
                )
                files.extend(resp.get("files", []))
                token = resp.get("nextPageToken")
                if not token:
                    return files

        def read_partition(self, f):
            content = service.files().get_media(fileId=f["id"]).execute()
            return [
                {
                    "file_id": f["id"],
                    "name": f["name"],
                    "mime_type": f.get("mimeType"),
                    "size": int(f.get("size") or 0),
                    "content": content.decode("utf-8", "replace")
                    if isinstance(content, bytes)
                    else str(content),
                }
            ]

    return _Client()
