"""Config expressions ship to the JVM as SQL text, not Column trees.

Every PySpark Column operator is its own driver→JVM py4j round-trip, so
an exp4j select list built as Columns cost about a hundred gateway
commands per expression.  These guards keep the SQL-text path the only
one: a warm dry run of a wide select + filter config stays under a fixed
gateway-command budget, and the two DSL compilers build no Column.
"""

import ast
import gc
import json
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pipeline_spark.config import parse_config
from pipeline_spark.executor import run_pipeline
from pipeline_spark.operators.dedup import band_keys

COMPILERS = Path(__file__).resolve().parents[1] / "pipeline_spark" / "compilers"

#: gateway commands (calls, reflects, detaches) of one warm dry run of a
#: 40-expression select after a filter; the Column build sent about 4,480
COMMAND_BUDGET = 300


def _wide_config(path: str, width: int) -> dict:
    forms = ("price * {a} + qty * {b}", "(price - day) * {a}", "qty * qty + {a}",
             "if(price > {a}, qty, day) - {b}")
    select = [{"name": "id"}] + [
        {"name": f"e{k}", "expression": forms[k % len(forms)].format(a=k + 1, b=k % 7 + 1)}
        for k in range(width)
    ]
    return {
        "sources": [{"name": "orders", "module": "storage",
                     "parameters": {"format": "parquet", "input": path}}],
        "transforms": [
            {"name": "recent", "module": "filter", "inputs": ["orders"],
             "parameters": {"filters": {"or": [{"key": "day", "op": ">=", "value": 3},
                                               {"key": "status", "op": "in", "value": ["A", "B"]}]}}},
            {"name": "wide", "module": "select", "inputs": ["recent"],
             "parameters": {"select": select}},
        ],
        "sinks": [{"name": "out", "module": "memory", "inputs": ["wide"],
                   "parameters": {"table": "chatter_out"}}],
    }


def _count_commands(spark, monkeypatch, fn) -> int:
    """Gateway commands ``fn`` sends, counted by wrapping the client's
    ``send_command`` (every call, reflect and detach goes through it)."""
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    orig = client.send_command

    def counting(command, *args, **kwargs):
        sent.append(command[:1])
        return orig(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    fn()
    monkeypatch.undo()
    return len(sent)


def test_wide_select_dry_run_stays_under_command_budget(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({
        "id": pa.array(range(8), pa.int64()),
        "price": pa.array([100 + i for i in range(8)], pa.int64()),
        "qty": pa.array([i % 5 for i in range(8)], pa.int32()),
        "day": pa.array(range(8), pa.int32()),
        "status": pa.array(["A", "B", "C", "D"] * 2),
    }), path)
    text = json.dumps(_wide_config(path, 40))

    def dry_run():
        outs = run_pipeline(spark, parse_config(text), dry_run=True)
        assert len(outs["out"].schema.fields) == 41

    dry_run()  # warm: JVM class probes and function lookups are cached
    gc.collect()  # detaches of the warm-up's garbage are not this run's
    sent = _count_commands(spark, monkeypatch, dry_run)
    assert sent <= COMMAND_BUDGET, f"{sent} gateway commands for one warm dry run"


def _column_builds(path: Path) -> list[str]:
    """``F.<name>`` uses other than ``F.expr``, and Column imports."""
    tree = ast.parse(path.read_text())
    aliases, found = set(), []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            for a in node.names:
                if a.name == "functions":
                    aliases.add(a.asname or a.name)
                if a.name == "Column":
                    found.append(f"{path.name}: imports Column")
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql.functions":
            found += [f"{path.name}: imports {a.name}" for a in node.names if a.name != "expr"]
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == "pyspark.sql.functions":
                    aliases.add(a.asname or a.name)
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and node.value.id in aliases and node.attr != "expr"):
            found.append(f"{path.name}:{node.lineno}: {node.value.id}.{node.attr}")
    return found


def test_dsl_compilers_build_no_columns():
    found = [hit for name in ("expression.py", "filter_dsl.py")
             for hit in _column_builds(COMPILERS / name)]
    assert found == []


def test_column_build_detector_sees_one(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text("from pyspark.sql import functions as F\n"
                     "x = F.expr('1')\ny = F.when(x, 1)\n")
    assert _column_builds(probe) == ["probe.py:3: F.when"]


def analyzed(df) -> tuple[str, str]:
    """The analyzed plan as printed and as its JSON tree, ids masked: the
    printed plan shows a negative literal and UnaryMinus(literal) alike,
    the JSON tree shows ``named_struct`` and ``struct`` alike."""
    plan = df._jdf.queryExecution().analyzed()
    return (
        re.sub(r"#\d+", "#", plan.toString()),
        re.sub(r'"(id|jvmId)":("[^"]*"|\d+)', "", plan.toJSON()),
    )


def test_minhash_band_keys_plan_equals_column_build(spark):
    sigs = spark.createDataFrame([(1, list(range(64))), (2, list(range(1, 65)))],
                                 "doc long, sig array<long>")
    bands, rows = 16, 4
    want = sigs.select(
        "doc",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(F.slice(F.col("sig"), b * rows + 1, rows)).alias("bhash"))
            for b in range(bands)
        ])).alias("bk"),
    ).select("doc", "bk.band", "bk.bhash")
    got = band_keys(sigs, bands, rows)
    assert analyzed(got) == analyzed(want)
    assert sorted(got.collect()) == sorted(want.collect())
