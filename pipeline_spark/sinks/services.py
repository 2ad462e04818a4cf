"""Service-call sinks: `auxia`, `action`, `tasks`.

Reference parity (the last three sink modules of SURVEY §2.7):

- ``auxia`` (module/sink/AuxiaSink.java + util/cloud/crm/AuxiaUtil.java):
  rows become Auxia ``LogEventsRequest`` events (reserved fields
  ``user_id`` / ``event_name`` / ``insert_id`` /
  ``client_event_timestamp`` / ``event_properties`` /
  ``user_properties``; an ``events`` array field fans out to one request
  per event; ``type: json`` wraps a pre-built JSON column) and publish
  to Pub/Sub through the SAME injectable-client contract as the pubsub
  sink.  The reference serializes DynamicMessage protobuf for the wire;
  here the request travels as its canonical protobuf-JSON mapping — the
  field names/ids come from Auxia's public API schema either way.
- ``action`` (module/sink/ActionSink.java + util/pipeline/action/*):
  run ONE side-effecting service call after the inputs complete —
  ``service: bigquery`` (query/load job), ``dataflow`` (launch a
  template), ``vertexai_gemini`` (one model call).  Each service goes
  through an injectable client factory so the module is e2e-testable
  without the SDKs (the repo-wide connector pattern).
- ``tasks`` (module/sink/TasksSink.java): enqueue one Cloud Task per
  row onto a queue.  NOTE: the reference registers this module but its
  body is ``throw new NotImplementedException`` (TasksSink.java:73) —
  this implementation completes the declared surface: per-partition
  batched CreateTask requests through an injectable client.

Scale posture: auxia/tasks write EXECUTOR-side per partition (the
per-bundle-client DoFn shape — no driver row motion); action is a
single driver-side control-plane call by definition.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

from pipeline_spark.registry import KIND_SINK, ModuleContext, module
from pipeline_spark.sinks.drive import write_mutations

_AUXIA_RESERVED = (
    "user_id", "event_name", "insert_id", "client_event_timestamp",
    "server_received_timestamp", "event_properties", "user_properties",
    "events", "pre_login_temp_user_id",
)


def _auxia_event(d: dict, default_name: str | None) -> dict:
    """One row/array-element dict → one LogEventsRequest event (protobuf
    JSON mapping of auxia.event.v1.Event)."""
    import datetime

    def iso(v):
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat() + (
                "Z" if isinstance(v, datetime.datetime) and v.tzinfo is None
                else ""
            )
        return v

    ev: dict[str, Any] = {}
    name = d.get("event_name") or default_name
    if not name:
        raise ValueError(
            "auxia sink: rows need an event_name column (or set the "
            "module's eventName parameter)"
        )
    ev["event_name"] = str(name)
    if d.get("insert_id") is not None:
        ev["insert_id"] = str(d["insert_id"])
    if d.get("client_event_timestamp") is not None:
        ev["client_event_timestamp"] = iso(d["client_event_timestamp"])
    props = dict(d.get("event_properties") or {})
    # non-reserved columns ride along as event properties (the element
    # mapping's catch-all, AuxiaUtil createEventProperties)
    for k, v in d.items():
        if k not in _AUXIA_RESERVED and v is not None:
            props.setdefault(k, iso(v))
    if props:
        ev["event_properties"] = {
            k: _property_value(v) for k, v in props.items()
        }
    if d.get("user_properties"):
        ev["user_properties"] = {
            k: _property_value(v)
            for k, v in dict(d["user_properties"]).items()
        }
    return ev


def _property_value(v) -> dict:
    """auxia.event.v1.PropertyValue oneof (protobuf JSON)."""
    if isinstance(v, bool):
        return {"boolean_value": v}
    if isinstance(v, int):
        return {"long_value": v}
    if isinstance(v, float):
        return {"double_value": v}
    return {"string_value": str(v)}


@module("auxia", kind=KIND_SINK)
def auxia_sink(ctx: ModuleContext) -> dict:
    p: dict[str, Any] = ctx.params
    project_id = p.get("projectId")
    if not project_id:
        raise ValueError("auxia sink: projectId is required")
    pubsub = dict(p.get("pubsub") or {})
    topic = pubsub.get("topic")
    if not topic:
        raise ValueError("auxia sink: pubsub.topic is required")
    typ = str(p.get("type", "element")).lower()
    field = p.get("field")
    if typ == "json" and not field:
        raise ValueError("auxia sink: type json needs 'field'")
    event_name = p.get("eventName")
    exclude = set(p.get("excludeFields") or [])
    batch_size = int(pubsub.get("maxBatchSize", 500))
    factory_path = p.get(
        "clientFactory",
        "pipeline_spark.sinks.connectors:default_pubsub_client",
    )
    client_params = {**p, "topic": topic}

    def to_mutations(d: dict) -> Iterator[dict]:
        for x in exclude:
            d.pop(x, None)
        if typ == "json":
            raw = d.get(field)
            if isinstance(raw, (bytes, bytearray)):
                raw = bytes(raw).decode("utf-8")
            body = json.loads(raw) if isinstance(raw, str) else dict(raw)
            evs = body if isinstance(body, list) else [body]
            row_user = d.get("user_id")
            # per-EVENT attribution: an event's own user_id wins over
            # the row's — a multi-user payload must never publish one
            # user's event under another's id
            events = [(e.pop("user_id", None) or row_user, e) for e in evs]
        else:
            row_user = d.get("user_id")
            arr = d.get("events")
            events = [
                (row_user, _auxia_event(dict(e), event_name)) for e in arr
            ] if arr else [(row_user, _auxia_event(d, event_name))]
        for user_id, ev in events:
            if user_id is None:
                raise ValueError(
                    "auxia sink: every event needs a user_id (row "
                    "column or per-event field)"
                )
            request = {
                "project_id": str(project_id),
                "user_id": str(user_id),
                "events": [ev],
            }
            yield {"op": "INSERT", "table": topic, "row": request}

    write_mutations(
        ctx.input,
        factory_path=factory_path,
        params=client_params,
        batch_size=batch_size,
        to_mutations=to_mutations,
    )
    return {"": ctx.input}


@module("tasks", kind=KIND_SINK)
def tasks_sink(ctx: ModuleContext) -> dict:
    """One Cloud Task per row: ``queue`` is the full resource name,
    ``url``/``httpMethod``/``headers`` shape the task's httpRequest and
    ``format: json|text`` (+``payloadField`` for text) builds its body.
    The client factory receives the CreateTask request dicts in batches."""
    import base64

    p: dict[str, Any] = ctx.params
    queue = p.get("queue")
    if not queue:
        raise ValueError("tasks sink: 'queue' is required")
    fmt = str(p.get("format", "json")).lower()
    if fmt not in ("json", "text"):
        raise ValueError("tasks sink: format must be json or text")
    payload_field = p.get("payloadField")
    if fmt == "text" and not payload_field:
        raise ValueError("tasks sink: format text needs payloadField")
    url = p.get("url")
    if not url:
        raise ValueError("tasks sink: 'url' (the task target) is required")
    method = str(p.get("httpMethod", "POST")).upper()
    headers = {str(k): str(v) for k, v in (p.get("headers") or {}).items()}
    attributes = list(p.get("attributes") or [])
    batch_size = int(p.get("maxBatchSize", 100))
    factory_path = p.get(
        "clientFactory", "pipeline_spark.sinks.services:default_tasks_client"
    )

    def to_mutations(d: dict) -> tuple[dict]:
        if fmt == "json":
            body = json.dumps(d, default=str).encode("utf-8")
        else:
            v = d.get(payload_field)
            body = (
                bytes(v) if isinstance(v, (bytes, bytearray))
                else str(v or "").encode("utf-8")
            )
        hdrs = dict(headers)
        for a in attributes:  # row fields surfaced as task headers
            if d.get(a) is not None:
                hdrs[f"x-attr-{a}"] = str(d[a])
        return ({"op": "INSERT", "table": queue, "row": {
            "task": {
                "httpRequest": {
                    "url": url,
                    "httpMethod": method,
                    "headers": hdrs,
                    "body": base64.b64encode(body).decode("ascii"),
                }
            }
        }},)

    write_mutations(
        ctx.input,
        factory_path=factory_path,
        params=dict(p),
        batch_size=batch_size,
        to_mutations=to_mutations,
    )
    return {"": ctx.input}


def default_tasks_client(params: dict):
    """POST each CreateTask request to the Cloud Tasks REST endpoint.
    Needs google-auth for a token — absent in this environment, so the
    gate names the workaround (inject a clientFactory)."""
    try:
        import google.auth  # noqa: F401
        import google.auth.transport.requests  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "tasks sink: the default client needs google-auth for an "
            "access token (not installed in this environment); pass "
            "clientFactory to inject another client"
        ) from exc
    import urllib.request

    creds, _ = google.auth.default()
    creds.refresh(google.auth.transport.requests.Request())
    queue = params["queue"]

    class _Client:
        def write(self, mutations):
            for m in mutations:
                req = urllib.request.Request(
                    f"https://cloudtasks.googleapis.com/v2/{queue}/tasks",
                    data=json.dumps(m["row"]).encode(),
                    headers={
                        "Authorization": f"Bearer {creds.token}",
                        "Content-Type": "application/json",
                    },
                    method="POST",
                )
                urllib.request.urlopen(req).read()

    return _Client()


@module("action", kind=KIND_SINK)
def action_sink(ctx: ModuleContext) -> dict:
    """ONE control-plane call after the inputs complete.  The executor
    applies sinks only when every dependency resolved, so placement in
    the DAG (inputs/waits) IS the reference's Wait.on semantics."""
    p: dict[str, Any] = ctx.params
    service = str(p.get("service", "")).lower()
    from pipeline_spark.operators.ml import resolve_factory

    # Wait.on means the upstream DATA completed, not that its lazy plan
    # exists: run each batch input to completion before the call (a
    # streaming input can't be awaited here — gate it loudly)
    for dep in ctx.inputs:
        if dep.isStreaming:
            raise ValueError(
                "action sink: streaming inputs can't gate a one-shot "
                "action — land them through a streaming sink and wait on "
                "that module instead"
            )
        dep.count()

    if service == "bigquery":
        bq = dict(p.get("bigquery") or {})
        if not (bq.get("query") or bq.get("sourceUris")):
            raise ValueError(
                "action sink: bigquery needs 'query' (query job) or "
                "'sourceUris' (load job)"
            )
        factory = p.get(
            "clientFactory",
            "pipeline_spark.sinks.services:default_bigquery_action_client",
        )
        result = resolve_factory(factory)({**p, **bq}).run(bq)
    elif service == "dataflow":
        df_p = dict(p.get("dataflow") or {})
        if not df_p.get("template"):
            raise ValueError("action sink: dataflow needs 'template'")
        factory = p.get(
            "clientFactory",
            "pipeline_spark.sinks.services:default_dataflow_action_client",
        )
        result = resolve_factory(factory)({**p, **df_p}).run(df_p)
    elif service in ("vertexai_gemini", "gemini"):
        g = dict(p.get("gemini") or {})
        prompt = g.get("prompt") or g.get("request")
        if not prompt:
            raise ValueError("action sink: gemini needs 'prompt'")
        factory = p.get(
            "clientFactory", "pipeline_spark.operators.ml:default_gemini_client"
        )
        client = resolve_factory(factory)({**p, **g})
        result = client.generate(
            str(g.get("model", "gemini-2.0-flash")), str(prompt)
        )
    else:
        raise ValueError(
            f"action sink: unsupported service '{service}' "
            "(bigquery | dataflow | vertexai_gemini)"
        )
    spark = ctx.spark
    out = spark.createDataFrame(
        [(service, json.dumps(result, default=str))],
        "service string, result string",
    )
    return {"": out}


def default_bigquery_action_client(params: dict):
    try:
        from google.cloud import bigquery  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "action sink: the default bigquery client needs "
            "google-cloud-bigquery (not installed in this environment); "
            "pass clientFactory to inject another client"
        ) from exc
    from google.cloud import bigquery

    client = bigquery.Client(project=params.get("projectId"))

    class _Client:
        def run(self, bq: dict) -> dict:
            if bq.get("query"):
                job = client.query(
                    bq["query"],
                    job_config=bigquery.QueryJobConfig(
                        destination=bq.get("destinationTable"),
                        use_legacy_sql=bool(bq.get("useLegacySql", False)),
                    ),
                )
            else:
                job = client.load_table_from_uri(
                    bq["sourceUris"], bq["destinationTable"]
                )
            job.result()
            return {"job_id": job.job_id, "state": job.state}

    return _Client()


def default_dataflow_action_client(params: dict):
    """Launch a classic/flex template via the Dataflow REST API (token
    via google-auth — absent here, so the gate names the workaround)."""
    try:
        import google.auth  # noqa: F401
        import google.auth.transport.requests  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "action sink: the default dataflow client needs google-auth "
            "(not installed in this environment); pass clientFactory to "
            "inject another client"
        ) from exc
    import urllib.request

    import google.auth
    import google.auth.transport.requests

    creds, proj = google.auth.default()
    creds.refresh(google.auth.transport.requests.Request())

    class _Client:
        def run(self, df_p: dict) -> dict:
            project = df_p.get("projectId") or proj
            region = df_p.get("region", "us-central1")
            body = {
                "jobName": df_p.get("jobName", "pipeline-action"),
                "parameters": df_p.get("parameters") or {},
                "environment": df_p.get("environment") or {},
            }
            url = (
                f"https://dataflow.googleapis.com/v1b3/projects/{project}"
                f"/locations/{region}/templates:launch?gcsPath="
                f"{df_p['template']}"
            )
            req = urllib.request.Request(
                url, data=json.dumps(body).encode(),
                headers={
                    "Authorization": f"Bearer {creds.token}",
                    "Content-Type": "application/json",
                },
                method="POST",
            )
            return json.loads(urllib.request.urlopen(req).read())

    return _Client()
