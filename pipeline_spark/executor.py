"""DAG executor: topologically apply modules, building a name → DataFrame map.

Mirrors the reference's fixed-point planning loop: execute any module whose
``inputs``/``waits``/``sideInputs`` are all materialized; error if an
iteration makes no progress (cycle / missing input)
(reference: MPipeline.java:109-133,135-237).

Because DataFrames are lazy Catalyst plans, "executing" a source/transform
here only *declares* the plan — Spark optimizes across all module boundaries
(filter pushdown, column pruning reach the scans).  Only sinks trigger
actions; ``waits`` order those actions.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from pipeline_spark.config import Config, ModuleConfig
from pipeline_spark.registry import ModuleContext, get_module


class PipelineExecutor:
    def __init__(self, spark: SparkSession, dry_run: bool = False):
        self.spark = spark
        # dry-run plans sources/transforms (schemas resolve) but skips sink
        # actions and post-commit hooks (reference: PipelineService.java
        # run(dryRun=true) builds the graph without pipeline.run())
        self.dry_run = dry_run
        self.outputs: dict[str, DataFrame] = {}
        self.completed: set[str] = set()
        self._post_commit: list = []
        # effective timestampAttribute per module: the reference assigns
        # event time where the source declares it and every downstream
        # module inherits it implicitly (Beam element timestamps); here
        # the attribute name flows through the DAG instead
        self._ts_attrs: dict[str, str | None] = {}
        # effective strategy per module: sinks inherit the producing
        # transform's strategy (window/trigger/accumulationMode) so
        # trigger emulation can happen where Spark applies triggers —
        # at the writeStream
        self._strategies: dict[str, dict | None] = {}

    def run(self, config: Config, inputs: dict[str, DataFrame] | None = None) -> dict[str, DataFrame]:
        """Apply all modules; returns the full name → DataFrame registry.

        ``inputs`` seeds pre-built DataFrames (useful for tests / embedding).
        """
        if inputs:
            for k, v in inputs.items():
                self.outputs[k] = v
                self.completed.add(k)

        pending = list(config.modules())
        names = [m.name for m in pending]
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            raise ValueError(f"duplicate module names: {sorted(dupes)}")
        while pending:
            progressed = []
            for mc in pending:
                if self._ready(mc):
                    self._apply(mc)
                    progressed.append(mc)
            if not progressed:
                missing = {
                    mc.name: [d for d in (*mc.inputs, *mc.waits, *mc.side_inputs) if not self._have(d)]
                    for mc in pending
                }
                raise ValueError(f"pipeline stuck (cycle or missing inputs): {missing}")
            pending = [m for m in pending if m not in progressed]
        # Sinks materialize during _apply; reaching here means every sink
        # action succeeded — only now run deferred source commits (e.g. the
        # microbatch checkpoint write), so a failed sink never advances a
        # watermark past data it didn't persist.
        if not self.dry_run:
            for cb in self._post_commit:
                cb()
        self._post_commit.clear()
        return self.outputs

    def _have(self, name: str) -> bool:
        return name in self.outputs or name in self.completed

    def _ready(self, mc: ModuleConfig) -> bool:
        deps = [*mc.inputs, *mc.waits, *mc.side_inputs]
        return all(self._have(d) for d in deps)

    def _resolve(self, name: str) -> DataFrame:
        if name not in self.outputs:
            raise KeyError(f"unknown input '{name}'")
        return self.outputs[name]

    def _apply(self, mc: ModuleConfig) -> None:
        kind = "sink" if mc.kind == "failure" else mc.kind
        spec = get_module(mc.module, kind)
        if self.dry_run and kind == "sink":
            # every sink passes its input through as its output; skipping the
            # write action preserves downstream schemas exactly
            if mc.inputs:
                self.outputs[mc.name] = self._resolve(mc.inputs[0])
            self.completed.add(mc.name)
            return
        ts_attr = mc.timestamp_attribute
        if not ts_attr:
            for dep in mc.inputs:
                inherited = self._ts_attrs.get(dep.split(".")[0])
                if inherited:
                    ts_attr = inherited
                    break
        self._ts_attrs[mc.name] = ts_attr
        strategy = mc.strategy
        if not strategy and kind == "sink":
            # only sinks inherit (trigger emulation happens at writeStream);
            # transforms keep per-module strategy like the reference
            for dep in mc.inputs:
                inherited_strategy = self._strategies.get(dep.split(".")[0])
                if inherited_strategy:
                    strategy = inherited_strategy
                    break
        self._strategies[mc.name] = strategy
        ctx = ModuleContext(
            spark=self.spark,
            name=mc.name,
            params=mc.parameters,
            inputs=[self._resolve(n) for n in mc.inputs],
            input_names=list(mc.inputs),
            side_inputs={n: self._resolve(n) for n in mc.side_inputs},
            config={
                "strategy": strategy,
                "schema": mc.schema,
                "timestampAttribute": ts_attr,
                "failFast": mc.fail_fast,
            },
        )
        outs = spec.fn(ctx) or {}
        self._post_commit.extend(ctx.post_commit)
        for out_name, df in outs.items():
            key = mc.name if out_name == "" else f"{mc.name}.{out_name}"
            self.outputs[key] = df
        # the default output is addressable by the bare module name
        if "" not in outs and len(outs) == 1:
            only = next(iter(outs.values()))
            self.outputs.setdefault(mc.name, only)
        self.completed.add(mc.name)


def run_pipeline(
    spark: SparkSession,
    config: Config,
    inputs: dict[str, DataFrame] | None = None,
    dry_run: bool = False,
) -> dict[str, DataFrame]:
    return PipelineExecutor(spark, dry_run=dry_run).run(config, inputs=inputs)
