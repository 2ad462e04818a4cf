"""Pipeline API server: HTTP validate / dry-run / run over the config
loader.

Reference: MPipelineServer.java:1-60 routes /probe, /api/pipeline,
/api/schema to servlet services; PipelineService.java:33-205 accepts a
config document with ``action`` run/dryrun and responds with per-module
errors.  Re-expressed over stdlib ``http.server`` (no new dependencies):

  GET  /probe                      liveness probe → {"status": "ok"}
  GET  /api/schema                 registered modules by kind (the
                                   SchemaService analogue: what configs
                                   may reference)
  POST /api/pipeline?action=...    body = YAML/JSON config
        action=validate|dryrun     parse + static graph checks, no Spark
        action=run                 execute on the server's SparkSession
        query args.k=v             config template parameters

Responses are JSON: {"status": "ok"|"error", ...}; validation problems
come back as a list of messages rather than a stack trace, mirroring the
reference's IllegalModuleException error list.
"""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qsl, urlparse

from pipeline_spark.config import Config, parse_config
from pipeline_spark.registry import module_names, registered_modules


def validate_config(config: Config) -> list[str]:
    """Static pipeline checks (no Spark session): duplicate names,
    unregistered modules, dangling/cyclic input references — the same
    conditions the executor raises at run time
    (executor.py run loop; reference: MPipeline.java:109-133)."""
    errors: list[str] = []
    mods = config.modules()
    names = [m.name for m in mods]
    for dup in sorted({n for n in names if names.count(n) > 1}):
        errors.append(f"duplicate module name '{dup}'")

    for m in mods:
        kind = "sink" if m.kind == "failure" else m.kind
        avail = module_names(kind)
        if m.module not in avail:
            errors.append(
                f"module '{m.name}': unknown {kind} module '{m.module}' "
                f"(registered: {avail})"
            )

    # outputs may be addressed as `name` or `name.output`
    produced = set(names)
    resolvable = lambda ref: ref in produced or ref.split(".", 1)[0] in produced  # noqa: E731
    for m in mods:
        for ref in (*m.inputs, *m.side_inputs, *m.waits):
            if not resolvable(ref):
                errors.append(f"module '{m.name}': unresolved input '{ref}'")

    # cycle / stuck detection over name-level dependencies
    remaining = {m.name: {r.split(".", 1)[0] for r in (*m.inputs, *m.side_inputs, *m.waits)} for m in mods}
    done: set[str] = set()
    while remaining:
        ready = [n for n, deps in remaining.items() if deps <= done]
        if not ready:
            errors.append(f"pipeline stuck (cycle or missing inputs): {sorted(remaining)}")
            break
        for n in ready:
            done.add(n)
            remaining.pop(n)
    return errors


#: dotted-path prefixes a server-submitted config may name as a client
#: factory; anything else is rejected before planning (a factory path is
#: imported and called, so an open prefix would be remote code execution)
DEFAULT_FACTORY_ALLOW = ("pipeline_spark.",)


def check_factories(config: Config, allow: tuple[str, ...]) -> list[str]:
    """Reject ``*Factory`` dotted paths outside the allowlist in
    server-submitted configs (resolve_factory imports arbitrary modules)."""
    errors: list[str] = []

    def walk(obj, where):
        if isinstance(obj, dict):
            for k, v in obj.items():
                if (
                    isinstance(k, str)
                    and k.endswith("Factory")
                    and isinstance(v, str)
                    and not any(v.startswith(p) for p in allow)
                ):
                    errors.append(
                        f"module '{where}': factory '{v}' not under an allowed "
                        f"prefix {sorted(allow)}"
                    )
                walk(v, where)
        elif isinstance(obj, list):
            for v in obj:
                walk(v, where)

    for m in config.modules():
        walk(m.parameters, m.name)
    return errors


def schema_report(outputs: dict[str, Any]) -> list[dict[str, Any]]:
    """Per-output name + schema, the MCollection.toJsonObject analogue
    (reference: MCollection.java:58-66, PipelineService.java dryrun)."""
    report = []
    for name, df in sorted(outputs.items()):
        report.append(
            {
                "name": name,
                "schema": {
                    "fields": [
                        {"name": f.name, "type": f.dataType.simpleString(),
                         "nullable": f.nullable}
                        for f in df.schema.fields
                    ]
                },
            }
        )
    return report


class PipelineServer:
    """Embeddable server; tests construct with an existing SparkSession
    and port 0 (ephemeral)."""

    def __init__(
        self,
        spark=None,
        host: str = "127.0.0.1",
        port: int = 8466,
        allow_run: bool = False,
        token: str | None = None,
        factory_allow: tuple[str, ...] = DEFAULT_FACTORY_ALLOW,
    ):
        self._spark = spark
        self.allow_run = allow_run
        self.token = token
        self.factory_allow = tuple(factory_allow)
        # import every module now, so no request pays a module's import
        registered_modules()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, payload: dict[str, Any]) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self) -> None:
                path = urlparse(self.path).path
                if path == "/probe":
                    self._reply(200, {"status": "ok"})
                elif path == "/api/schema":
                    mods: dict[str, list[str]] = {}
                    for s in registered_modules():
                        mods.setdefault(s.kind, []).append(s.name)
                    self._reply(200, {"status": "ok", "modules": mods})
                else:
                    self._reply(404, {"status": "error", "errors": [f"no route {path}"]})

            def do_POST(self) -> None:
                url = urlparse(self.path)
                if url.path != "/api/pipeline":
                    self._reply(404, {"status": "error", "errors": [f"no route {url.path}"]})
                    return
                q = dict(parse_qsl(url.query))
                action = q.pop("action", "validate").lower()
                template_args = {
                    k.removeprefix("args."): v for k, v in q.items() if k.startswith("args.")
                }
                length = int(self.headers.get("Content-Length", 0))
                text = self.rfile.read(length).decode()
                try:
                    config = parse_config(text, template_args)
                except Exception as e:  # noqa: BLE001 — user input boundary
                    self._reply(400, {"status": "error", "errors": [f"config parse: {e}"]})
                    return
                errors = validate_config(config)
                if errors:
                    self._reply(400, {"status": "error", "errors": errors})
                    return
                if action == "validate":
                    self._reply(
                        200,
                        {"status": "ok", "action": action,
                         "modules": [m.name for m in config.modules()]},
                    )
                    return
                if action not in ("run", "dryrun"):
                    self._reply(400, {"status": "error", "errors": [f"unknown action '{action}'"]})
                    return
                # dryrun plans on Spark and run executes — both import and
                # call factory paths from the submitted config, so both are
                # gated on the allowlist; run additionally needs the opt-in
                # flag and, when configured, the bearer token.
                factory_errors = check_factories(config, outer.factory_allow)
                if factory_errors:
                    self._reply(403, {"status": "error", "errors": factory_errors})
                    return
                if action == "run" and not outer.allow_run:
                    self._reply(
                        403,
                        {"status": "error", "errors": [
                            "action=run is disabled; start the server with "
                            "--allow-run to enable execution"]},
                    )
                    return
                if outer.token:
                    auth = self.headers.get("Authorization", "")
                    if auth != f"Bearer {outer.token}":
                        self._reply(401, {"status": "error",
                                          "errors": ["missing or invalid bearer token"]})
                        return
                try:
                    from pipeline_spark.executor import run_pipeline

                    outputs = run_pipeline(
                        outer.spark(), config, dry_run=(action == "dryrun")
                    )
                    self._reply(
                        200,
                        {"status": "ok", "action": action,
                         "outputs": schema_report(outputs)},
                    )
                except Exception as e:  # noqa: BLE001 — user input boundary
                    self._reply(500, {"status": "error", "errors": [str(e)]})

        self._httpd = ThreadingHTTPServer((host, port), Handler)

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def spark(self):
        if self._spark is None:
            from pyspark.sql import SparkSession

            self._spark = SparkSession.builder.appName("pipeline_spark_server").getOrCreate()
        return self._spark

    def serve_forever(self) -> None:
        self._httpd.serve_forever()

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def main(argv: list[str] | None = None) -> int:
    import argparse

    p = argparse.ArgumentParser(prog="pipeline_spark.server")
    p.add_argument("--host", default="127.0.0.1",
                   help="bind address (default loopback; binding wider than "
                        "loopback without --token exposes config execution)")
    p.add_argument("--port", type=int, default=8466)
    p.add_argument("--allow-run", action="store_true",
                   help="enable action=run (execute submitted configs)")
    p.add_argument("--token", default=None,
                   help="require 'Authorization: Bearer <token>' on run/dryrun")
    p.add_argument("--factory-allow", action="append", default=None,
                   help="additional allowed *Factory dotted-path prefix "
                        "(repeatable); default allows only pipeline_spark.*")
    args = p.parse_args(argv)
    allow = DEFAULT_FACTORY_ALLOW + tuple(args.factory_allow or ())
    server = PipelineServer(
        host=args.host, port=args.port, allow_run=args.allow_run,
        token=args.token, factory_allow=allow,
    )
    print(f"pipeline_spark server on {args.host}:{server.port}")
    server.serve_forever()
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(main())
