"""Module registry.

The reference registers modules by classpath annotation scan
(reference: src/main/java/com/mercari/solution/module/Source.java:106-129,
same pattern in Transform.java / Sink.java).  Here a module is a plain
function decorated with ``@module("name", kind=...)``; the decorator records
it in a flat registry keyed by name.  The built-in modules are not imported
up front: ``MODULES`` names the file that defines each one, and
``get_module`` imports that file on the module's first use, so a pipeline
pays the import cost of only the modules its config names.

A module function has the signature::

    fn(ctx: ModuleContext) -> dict[str, DataFrame]

where ``ctx`` carries the SparkSession, the module's resolved input
DataFrames, and its parameters.  Multi-output modules (e.g. partition) return
several named outputs; downstream modules address them as
``moduleName.outputName`` (reference: MPipeline.java:109-133).
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

KIND_SOURCE = "source"
KIND_TRANSFORM = "transform"
KIND_SINK = "sink"


@dataclass
class ModuleContext:
    """Everything a module function needs at plan time."""

    spark: SparkSession
    name: str
    params: dict[str, Any]
    # ordered input DataFrames, matching the config's `inputs` list
    inputs: list[DataFrame] = field(default_factory=list)
    # input names parallel to `inputs` (for SQL view registration etc.)
    input_names: list[str] = field(default_factory=list)
    # side inputs (small, broadcastable) by name
    side_inputs: dict[str, DataFrame] = field(default_factory=dict)
    # raw module config (timestampAttribute, strategy, ...)
    config: dict[str, Any] = field(default_factory=dict)
    # callbacks the executor runs only after ALL sinks have materialized
    # successfully (reference: MicroBatch.java CheckpointSaveDoFn persists the
    # checkpoint after query results are emitted, not at plan time)
    post_commit: list[Callable[[], None]] = field(default_factory=list)

    def on_commit(self, fn: Callable[[], None]) -> None:
        """Defer ``fn`` until the whole pipeline run has succeeded."""
        self.post_commit.append(fn)

    @property
    def input(self) -> DataFrame:
        if not self.inputs:
            raise ValueError(f"module '{self.name}' has no inputs")
        return self.inputs[0]


@dataclass(frozen=True)
class ModuleSpec:
    name: str
    kind: str
    fn: Callable[[ModuleContext], dict[str, DataFrame]]


_REGISTRY: dict[tuple[str, str], ModuleSpec] = {}

_PACKAGES = {
    KIND_SOURCE: "pipeline_spark.sources",
    KIND_TRANSFORM: "pipeline_spark.operators",
    KIND_SINK: "pipeline_spark.sinks",
}

#: kind -> module name -> the file of ``_PACKAGES[kind]`` that registers
#: it.  tests/test_registry_table.py checks this table against what
#: importing every file registers.
MODULES: dict[str, dict[str, str]] = {
    KIND_SOURCE: {
        "bigquery": "connectors", "bigtable": "connectors", "create": "create",
        "datastore": "connectors", "delta": "delta_native",
        "drivefile": "connectors", "files": "files", "firestore": "connectors",
        "http": "http", "iceberg": "connectors", "jdbc": "jdbc",
        "kafka": "connectors", "microbatch": "microbatch", "pubsub": "connectors",
        "spanner": "connectors", "storage": "storage", "warc": "warc",
    },
    KIND_TRANSFORM: {
        "aggregation": "aggregation", "asof": "asof", "beamsql": "beamsql",
        "bigtable": "ml", "bpe_train": "tokenize", "chunk": "chunk",
        "compare": "compare", "crypto": "crypto",
        "decontaminate": "decontaminate", "dedup": "dedup",
        "deserialize": "deserialize", "dsir": "dsir", "example": "example",
        "filter": "filter", "htmlextract": "htmlextract", "http": "http",
        "limit": "limit", "lookup": "lookup", "matchRecognize": "matchrec",
        "multimodal": "multimodal", "onnx": "ml", "pack": "pack",
        "partition": "partition", "pdfextract": "ml", "processing": "processing",
        "profile": "profile", "rangejoin": "rangejoin",
        "repetition": "repetition", "reshuffle": "reshuffle", "sample": "sample",
        "scrub": "scrub", "select": "select", "sessionize": "sessionize",
        "similarity": "similarity", "sql": "beamsql", "textstats": "textstats",
        "tokenize": "tokenize", "topk": "topk", "union": "union",
        "unnest": "unnest", "urls": "urls", "vertexai.gemini": "ml",
    },
    KIND_SINK: {
        "action": "services", "auxia": "services", "bigquery": "connectors",
        "bigtable": "connectors", "copyfile": "copyfile",
        "datastore": "connectors", "debug": "debug", "delta": "delta_native",
        "files": "files", "firestore": "connectors", "iceberg": "connectors",
        "jdbc": "jdbc", "kafka": "connectors", "localH2": "localdb",
        "memory": "memory", "pubsub": "connectors", "spanner": "connectors",
        "storage": "storage", "tableconvert": "tableconvert", "tasks": "services",
        "text": "text", "warc": "warc",
    },
}


def module(name: str, kind: str = KIND_TRANSFORM):
    """Register a module function under ``name``/``kind``."""

    def deco(fn: Callable[[ModuleContext], dict[str, DataFrame]]):
        _REGISTRY[(kind, name)] = ModuleSpec(name=name, kind=kind, fn=fn)
        return fn

    return deco


def module_names(kind: str) -> list[str]:
    """Every module name of ``kind`` a config may use, importing nothing."""
    return sorted(set(MODULES.get(kind, ())) | {n for k, n in _REGISTRY if k == kind})


def get_module(name: str, kind: str) -> ModuleSpec:
    spec = _REGISTRY.get((kind, name))
    if spec is None and name in MODULES.get(kind, ()):
        importlib.import_module(f"{_PACKAGES[kind]}.{MODULES[kind][name]}")
        spec = _REGISTRY.get((kind, name))
    if spec is None:
        raise KeyError(
            f"unknown {kind} module '{name}'; registered: {module_names(kind)}"
        )
    return spec


def registered_modules(kind: str | None = None) -> list[ModuleSpec]:
    """Every registered module, importing all the built-in ones first."""
    for k, files in MODULES.items():
        for f in set(files.values()):
            importlib.import_module(f"{_PACKAGES[k]}.{f}")
    return [s for (k, _), s in sorted(_REGISTRY.items()) if kind is None or k == kind]
