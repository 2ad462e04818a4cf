"""One Delta commit path.  Every ``_delta_log`` version is claimed,
conflict-checked and checkpointed by ``sinks/delta_native.commit``:

- an AST scan keeps the create-exclusive claim (``os.link`` or an
  ``open(..., "xb")`` fallback) inside that one function (Iceberg's
  ``_publish_metadata_exclusive`` is the other format's claim, guarded
  by ``test_iceberg_commit_guard.py``);
- two races pin the conflict rules that ``alter`` and ``restore``
  declare;
- every Delta operation's log actions are compared with goldens
  (``tests/data/delta_commit_goldens.json``), normalized so that only
  what the operation decides is compared.

Regenerate the goldens (only when an operation's log output is meant to
change) with ``PYTHONPATH=. python tests/test_delta_commit.py`` from the
repository root.
"""

import ast
import json
import os
import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / "pipeline_spark"
GOLDENS = pathlib.Path(__file__).resolve().parent / "data" / (
    "delta_commit_goldens.json"
)

#: (file, function) pairs allowed to claim a version file
CLAIMS = {
    ("sinks/delta_native.py", "commit"),
    ("sinks/iceberg_native.py", "_publish_metadata_exclusive"),
}
GONE = {"_commit_actions", "_commit_actions_retry"}


def _claims(tree: ast.AST):
    """(enclosing function, what) for every ``os.link`` use and every
    ``open(..., "xb")`` call."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            elif (isinstance(child, ast.Attribute) and child.attr == "link"
                  and isinstance(child.value, ast.Name)
                  and child.value.id == "os"):
                out.append((fn, "os.link"))
            elif (isinstance(child, ast.Call)
                  and isinstance(child.func, ast.Name)
                  and child.func.id == "open"):
                modes = [
                    a.value for a in child.args[1:2]
                    if isinstance(a, ast.Constant)
                ] + [
                    k.value.value for k in child.keywords
                    if k.arg == "mode" and isinstance(k.value, ast.Constant)
                ]
                if "xb" in modes:
                    out.append((fn, "open-xb"))
            visit(child, inner)

    visit(tree, None)
    return out


def _scan():
    found, defined = [], set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        found += [(rel, fn, what) for fn, what in _claims(tree)]
        defined |= {
            n.name for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
    return found, defined


def test_only_commit_claims_a_version():
    found, defined = _scan()
    assert [f for f in found if f[:2] not in CLAIMS] == []
    assert not GONE & defined


def test_the_scan_sees_the_one_path():
    # a scan that finds nothing proves nothing
    found, _ = _scan()
    delta = {
        what for rel, fn, what in found
        if (rel, fn) == ("sinks/delta_native.py", "commit")
    }
    assert delta == {"os.link", "open-xb"}


# ------------------------------------------------------------------ races


def _race(monkeypatch, version, interleave):
    """The first claim of ``version`` loses to ``interleave()``."""
    real_link = os.link
    state = {"injected": False}

    def racing_link(src, dst, *a, **kw):
        if not state["injected"] and dst.endswith(f"{version:020d}.json"):
            state["injected"] = True
            interleave()
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(os, "link", racing_link)
    return state


def test_alter_vs_blind_append_both_commit(spark, tmp_path, monkeypatch):
    from pipeline_spark.sinks.delta_native import (
        alter_delta_native,
        write_delta_native,
    )
    from pipeline_spark.sources.delta_native import (
        _log_dir,
        latest_version,
        read_delta_native,
    )

    tbl = str(tmp_path / "alter_race")
    rows = spark.createDataFrame([(0, "a"), (1, "b")], "id long, v string")
    write_delta_native(spark, rows.coalesce(1), {"path": tbl})

    def interleave():
        write_delta_native(
            spark,
            spark.createDataFrame([(2, "c")], "id long, v string").coalesce(1),
            {"path": tbl, "mode": "append"},
        )

    state = _race(monkeypatch, 1, interleave)
    alter_delta_native(spark, {
        "path": tbl, "enableColumnMapping": True,
        "renameColumn": {"v": "w"},
    })
    monkeypatch.undo()
    assert state["injected"]
    assert latest_version(_log_dir(tbl)) == 2  # lost v1, retried at v2
    got = sorted(
        (r["id"], r["w"])
        for r in read_delta_native(spark, {"path": tbl}).collect()
    )
    assert got == [(0, "a"), (1, "b"), (2, "c")]


def test_restore_vs_append_fails(spark, tmp_path, monkeypatch):
    from pipeline_spark.sinks.delta_native import (
        restore_delta_native,
        write_delta_native,
    )
    from pipeline_spark.sources.delta_native import _log_dir, latest_version

    tbl = str(tmp_path / "restore_race")
    write_delta_native(spark, spark.range(0, 3).coalesce(1), {"path": tbl})
    write_delta_native(
        spark, spark.range(3, 6).coalesce(1), {"path": tbl, "mode": "append"}
    )

    def interleave():
        write_delta_native(
            spark, spark.range(6, 9).coalesce(1),
            {"path": tbl, "mode": "append"},
        )

    _race(monkeypatch, 2, interleave)
    with pytest.raises(FileExistsError, match="concurrent commit"):
        restore_delta_native(spark, {"path": tbl, "versionAsOf": 0})
    monkeypatch.undo()
    assert latest_version(_log_dir(tbl)) == 2  # only the append landed
    assert not [
        n for n in os.listdir(_log_dir(tbl)) if n.endswith(".tmp")
    ]


# ---------------------------------------------------------------- goldens

_TIMES = {
    "timestamp", "inCommitTimestamp", "modificationTime",
    "deletionTimestamp", "createdTime",
}
_SUBS = [
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"[0-9a-f]{32}"), "<uuid>"),
    (re.compile(r"_row_id_col_[0-9a-f]{12}"), "<row-id-col>"),
    (re.compile(r"_row_commit_version_col_[0-9a-f]{12}"), "<row-cv-col>"),
]


def _zero_times(node):
    if isinstance(node, dict):
        out = {}
        for k, v in node.items():
            if k in _TIMES and isinstance(v, int):
                out[k] = 0
            elif k == "pathOrInlineDv":
                out[k] = "<dv>"
            else:
                out[k] = _zero_times(v)
        return out
    if isinstance(node, list):
        return [_zero_times(v) for v in node]
    return node


def _normalize(action: dict, root: str) -> str:
    text = json.dumps(_zero_times(action), sort_keys=True)
    text = text.replace(root, "<root>")
    for pat, repl in _SUBS:
        text = pat.sub(repl, text)
    return text


def _log(table: str, root: str) -> list[dict]:
    """Every JSON commit of ``table``: whether commitInfo comes first
    (the In-Commit Timestamp rule) and its normalized actions, sorted —
    action order inside a commit carries no meaning in the protocol
    otherwise."""
    log_dir = os.path.join(table, "_delta_log")
    out = []
    for name in sorted(os.listdir(log_dir)):
        if not re.fullmatch(r"\d{20}\.json", name):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            acts = [json.loads(x) for x in fh if x.strip()]
        out.append({
            "commit_info_first": "commitInfo" in acts[0],
            "actions": sorted(_normalize(a, root) for a in acts),
        })
    return out


def _ops():
    """name -> fn(spark, root) returning the table whose log is compared.
    Inputs are coalesce(1) so file counts do not depend on the host."""
    from pyspark.sql import functions as F

    import pipeline_spark.sinks.delta_native as dn
    from pipeline_spark.sinks import tableconvert as tc
    from pipeline_spark.sinks.iceberg_native import (
        delete_iceberg_native,
        write_iceberg_native,
    )

    def rows(spark, lo, hi):
        return spark.range(lo, hi).withColumn(
            "v", F.concat(F.lit("v"), F.col("id").cast("string"))
        ).withColumn("g", (F.col("id") % 2).cast("int")).coalesce(1)

    def base(spark, root, name, props=None, **kw):
        tbl = os.path.join(root, name)
        dn.write_delta_native(
            spark, rows(spark, 0, 10),
            {"path": tbl, **({"properties": props} if props else {}), **kw},
        )
        dn.write_delta_native(
            spark, rows(spark, 10, 20), {"path": tbl, "mode": "append", **kw}
        )
        return tbl

    RT = {"delta.enableRowTracking": "true"}
    ICT = {"delta.enableInCommitTimestamps": "true"}
    CDF = {"delta.enableChangeDataFeed": "true"}

    def write_txn(spark, root):
        tbl = base(spark, root, "txn")
        for _ in range(2):  # the second is a replayed batch: a no-op
            dn.write_delta_native(
                spark, rows(spark, 20, 22), {"path": tbl, "mode": "append"},
                txn=("app", 7),
            )
        return tbl

    def write_overwrite(spark, root):
        tbl = base(spark, root, "ow")
        dn.write_delta_native(
            spark, rows(spark, 50, 53), {"path": tbl, "mode": "overwrite"}
        )
        return tbl

    def write_replace_where(spark, root):
        tbl = base(spark, root, "rw")
        dn.write_delta_native(spark, rows(spark, 100, 102).withColumn(
            "id", F.col("id") - 98), {
            "path": tbl, "mode": "overwrite",
            "replaceWhere": [{"key": "id", "op": "<", "value": 5}],
        })
        return tbl

    def write_partitioned(spark, root):
        return base(spark, root, "part", partitionBy=["g"])

    def write_features(spark, root):
        tbl = os.path.join(root, "feat")
        dn.write_delta_native(spark, rows(spark, 0, 10), {
            "path": tbl, "clusterBy": ["id"],
            "generatedColumns": {"id2": "id * 2"},
            "properties": {
                **RT, **ICT, "delta.columnMapping.mode": "name",
                "delta.constraints.pos": "id >= 0",
            },
        })
        dn.write_delta_native(
            spark, rows(spark, 10, 12), {"path": tbl, "mode": "append"}
        )
        dn.write_delta_native(
            spark, rows(spark, 12, 14).withColumn("extra", F.lit(1.5)),
            {"path": tbl, "mode": "append", "mergeSchema": True},
        )
        return tbl

    def compact(spark, root):
        tbl = base(spark, root, "compact")
        dn.compact_delta_native(spark, {"path": tbl})
        return tbl

    def compact_row_tracking(spark, root):
        tbl = base(spark, root, "compact_rt", RT)
        dn.compact_delta_native(spark, {"path": tbl})
        return tbl

    def zorder(spark, root):
        tbl = base(spark, root, "zorder")
        dn.compact_delta_native(spark, {"path": tbl, "zOrderBy": ["id", "g"]})
        return tbl

    def dml(name, props=None, **p):
        def run(spark, root):
            tbl = base(spark, root, name, props)
            where = [{"key": "id", "op": "<", "value": 3}]
            if "set" in p:
                dn.update_delta_native(spark, {"path": tbl, "where": where, **p})
            else:
                dn.delete_delta_native(spark, {"path": tbl, "where": where, **p})
            return tbl
        return run

    def merge(name, props=None, txn=None, **p):
        def run(spark, root):
            tbl = base(spark, root, name, props)
            batch = spark.createDataFrame(
                [(3, "x", 1, "UPSERT"), (4, None, 0, "DELETE"),
                 (40, "new", 0, "UPSERT")],
                "id long, v string, g int, __op__ string",
            ).coalesce(1)
            dn.merge_delta_native(
                spark, batch, {"path": tbl, "primaryKeys": ["id"], **p},
                txn=txn,
            )
            return tbl
        return run

    def clone(spark, root):
        src = base(spark, root, "clone_src")
        dn.delete_delta_native(spark, {
            "path": src, "method": "mor",
            "where": [{"key": "id", "op": "=", "value": 1}],
        })
        tbl = os.path.join(root, "clone")
        dn.clone_delta_native(spark, {"source": src, "path": tbl})
        return tbl

    def restore(spark, root):
        tbl = base(spark, root, "restore")
        dn.alter_delta_native(spark, {"path": tbl, "widenColumn": {"g": "long"}})
        dn.restore_delta_native(spark, {"path": tbl, "versionAsOf": 0})
        return tbl

    def alter(spark, root):
        tbl = base(spark, root, "alter", ICT)
        dn.alter_delta_native(spark, {
            "path": tbl, "enableColumnMapping": True,
            "renameColumn": {"v": "w"},
        })
        dn.alter_delta_native(spark, {"path": tbl, "dropColumn": ["w"]})
        dn.alter_delta_native(spark, {"path": tbl, "clusterBy": ["id"]})
        return tbl

    def convert_parquet(spark, root):
        tbl = os.path.join(root, "pq")
        rows(spark, 0, 12).write.partitionBy("g").parquet(tbl)
        tc.convert_parquet_to_delta(spark, {"path": tbl})
        return tbl

    def convert_iceberg(spark, root):
        tbl = os.path.join(root, "ice")
        write_iceberg_native(rows(spark, 0, 12), {"path": tbl, "mode": "create"})
        delete_iceberg_native(spark, {
            "path": tbl, "where": [{"key": "id", "op": "<", "value": 2}],
        })
        tc.convert_iceberg_to_delta(spark, {"path": tbl})
        return tbl

    return {
        "write_txn": write_txn,
        "write_overwrite": write_overwrite,
        "write_replace_where": write_replace_where,
        "write_partitioned": write_partitioned,
        "write_features": write_features,
        "compact": compact,
        "compact_row_tracking": compact_row_tracking,
        "zorder": zorder,
        "delete_cow": dml("delete_cow"),
        "delete_mor": dml("delete_mor", method="mor"),
        "update_cow_row_tracking": dml(
            "update_cow_rt", RT, set={"v": "upper(v)"}),
        "update_mor_cdf": dml(
            "update_mor_cdf", CDF, method="mor", set={"v": "upper(v)"}),
        "merge_cow": merge("merge_cow", txn=("app", 3)),
        "merge_cow_cdf": merge("merge_cow_cdf", CDF),
        "merge_mor": merge("merge_mor", RT, method="mor", txn=("app", 4)),
        "clone": clone,
        "restore": restore,
        "alter": alter,
        "convert_parquet": convert_parquet,
        "convert_iceberg": convert_iceberg,
    }


def _goldens():
    with open(GOLDENS) as fh:
        return json.load(fh)


@pytest.mark.parametrize("op", sorted(_ops()))
def test_log_actions_match_goldens(spark, tmp_path, op):
    root = str(tmp_path)
    tbl = _ops()[op](spark, root)
    assert _log(tbl, root) == _goldens()[op]


def _regenerate() -> None:
    import tempfile

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name, fn in sorted(_ops().items()):
        with tempfile.TemporaryDirectory() as root:
            out[name] = _log(fn(spark, root), root)
    GOLDENS.parent.mkdir(exist_ok=True)
    with open(GOLDENS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    _regenerate()
