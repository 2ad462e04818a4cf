"""The shared row-level planner (sinks/rowlevel.py) gives the same rows
and counts on both formats and both methods: one logical table written
as a column-mapped, partitioned Delta table and as a schema-evolved
Iceberg table, each with a row already removed by a prior merge-on-read
delete, then the same DELETE and UPDATE through copy-on-write and
merge-on-read, and the same keyed MERGE.  An AST scan keeps merge
planning in the planner."""

import ast
import json
import os
import pathlib

import pytest

from pipeline_spark.sinks.delta_native import (
    delete_delta_native,
    merge_delta_native,
    update_delta_native,
    write_delta_native,
)
from pipeline_spark.sinks.iceberg_native import (
    alter_iceberg_native,
    delete_iceberg_native,
    merge_iceberg_native,
    update_iceberg_native,
    write_iceberg_native,
)
from pipeline_spark.sources.delta_native import read_delta_native
from pipeline_spark.sources.iceberg_native import (
    load_table_metadata,
    read_iceberg_native,
)


def _v(i):
    return None if i in (3, 4) else i * 10  # two predicate-NULL rows


ROWS = [(i, "abc"[i % 3], _v(i)) for i in range(30)]
PRIOR = [{"key": "id", "op": "in", "value": [6, 13]}]
# a partition-column predicate plus a data predicate; id 3 (grp a) has
# a NULL v and must be KEPT, id 6 was already deleted: matches 0 and 9
DELETE = [{"key": "grp", "op": "=", "value": "a"},
          {"key": "v", "op": "<", "value": 100}]
# grp b, v > 100: 16, 19, 22, 25, 28 (13 already deleted, 4 is NULL)
UPDATE = [{"key": "grp", "op": "=", "value": "b"},
          {"key": "v", "op": ">", "value": 100}]
SET = {"v": "v + 1000"}


def _delta(spark, path):
    for k in range(3):
        df = spark.createDataFrame(ROWS[k::3], "id long, grp string, v long")
        write_delta_native(spark, df, {
            "path": path, "mode": "append", "partitionBy": ["grp"],
            "properties": {"delta.columnMapping.mode": "name"},
        })
    delete_delta_native(spark, {"path": path, "where": PRIOR, "method": "mor"})
    return lambda: read_delta_native(spark, {"path": path})


def _iceberg(spark, path):
    # the first file is written under the column's old name: an
    # evolved-schema file the planner reads through the migrating scan
    write_iceberg_native(
        spark.createDataFrame(ROWS[0::3], "id long, grp string, val long")
        .coalesce(1), {"path": path, "mode": "create"},
    )
    alter_iceberg_native(spark, {"path": path, "renameColumn": {"val": "v"}})
    for k in (1, 2):
        write_iceberg_native(
            spark.createDataFrame(ROWS[k::3], "id long, grp string, v long")
            .coalesce(1), {"path": path, "mode": "append"},
        )
    delete_iceberg_native(spark, {"path": path, "where": PRIOR})
    return lambda: read_iceberg_native(spark, {"path": path})


def _rows(read):
    return sorted(tuple(r) for r in read().select("id", "grp", "v").collect())


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
@pytest.mark.parametrize("method", ["cow", "mor"])
def test_same_rows_and_counts_on_both_formats(spark, tmp_path, fmt, method):
    path = str(tmp_path / fmt)
    if fmt == "delta":
        read = _delta(spark, path)
        delete, update = delete_delta_native, update_delta_native
    else:
        read = _iceberg(spark, path)
        delete, update = delete_iceberg_native, update_iceberg_native
    alive = {r for r in ROWS if r[0] not in (6, 13)}
    assert set(_rows(read)) == alive

    out = delete(spark, {"path": path, "where": DELETE, "method": method})
    assert out["deleted_rows"] == 2
    alive = {r for r in alive if r[0] not in (0, 9)}
    assert set(_rows(read)) == alive

    out = update(spark, {"path": path, "where": UPDATE, "set": SET,
                         "method": method})
    assert out["updated_rows"] == 5
    if method == "mor":
        # merge-on-read rewrites no file: the old rows are deleted by
        # position and the updated rows land beside them
        assert "rewritten_files" not in out
        if fmt == "iceberg":
            meta = load_table_metadata(path)
            cur = next(s for s in meta["snapshots"]
                       if s["snapshot-id"] == meta["current-snapshot-id"])
            assert int(cur["summary"]["added-delete-files"]) >= 1
            assert int(cur["summary"]["added-data-files"]) >= 1
    bumped = {16, 19, 22, 25, 28}
    want = {(i, g, v + 1000 if i in bumped else v) for i, g, v in alive}
    assert set(_rows(read)) == want


def test_delta_cow_probes_once_and_rewrites_only_hit_files(spark, tmp_path):
    """Three partition groups are candidates; one probe action counts
    matches per file, and only the file holding the match rewrites."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(ROWS, "id long, grp string, v long")
    write_delta_native(spark, df.repartition(2, "id"),
                       {"path": path, "partitionBy": ["grp"]})
    sc = spark.sparkContext
    sc.setJobGroup("rowlevel-probe", "cow delete")
    try:
        out = delete_delta_native(spark, {
            "path": path, "where": [{"key": "id", "op": "=", "value": 1}],
        })
    finally:
        sc.setJobGroup("", "")
    # group b holds two files; the one without id 1 stays
    assert out == {"deleted_rows": 1, "rewritten_files": 1}
    st = sc.statusTracker()
    sites = []
    for j in st.getJobIdsForGroup("rowlevel-probe"):
        for s in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(s)
            if info is not None:
                sites.append(info.name)
    probe = [s for s in sites if "rowlevel.py" in s]
    # one collect (AQE runs its shuffle map stage as a job of its own)
    # and the one parquet write of the hit group; no per-group count()
    assert len(set(probe)) == 1 and probe[0].startswith("collect at")
    assert not [s for s in sites if s.startswith("count at")]
    assert len(st.getJobIdsForGroup("rowlevel-probe")) == 3


@pytest.mark.parametrize("method", ["cow", "mor"])
def test_delta_delete_honours_checkpoint_interval(spark, tmp_path, method):
    path = str(tmp_path / "t")
    write_delta_native(
        spark, spark.createDataFrame(ROWS, "id long, grp string, v long"),
        {"path": path},
    )
    delete_delta_native(spark, {
        "path": path, "where": [{"key": "id", "op": "<", "value": 5}],
        "method": method, "checkpointInterval": 1,
    })
    with open(os.path.join(path, "_delta_log", "_last_checkpoint")) as fh:
        assert json.load(fh)["version"] == 1


@pytest.mark.parametrize("fmt,method", [
    ("delta", "cow"), ("delta", "mor"), ("iceberg", "cow"),
])
def test_set_reads_the_pre_update_row(spark, tmp_path, fmt, method):
    """Every ``set`` expression, and the match itself, reads the row as
    it was before the update: setting the predicate column does not stop
    the other assignments, and they see its old value."""
    path = str(tmp_path / fmt)
    df = spark.createDataFrame([(1, 10), (2, 20)], "x long, y long")
    if fmt == "delta":
        write_delta_native(spark, df, {"path": path})
        update, read = update_delta_native, read_delta_native
    else:
        write_iceberg_native(df.coalesce(1), {"path": path, "mode": "create"})
        update, read = update_iceberg_native, read_iceberg_native
    out = update(spark, {
        "path": path, "method": method,
        "where": [{"key": "x", "op": "=", "value": 1}],
        "set": {"x": "x + 5", "y": "x + 100"},
    })
    assert out["updated_rows"] == 1
    got = sorted(tuple(r) for r in read(spark, {"path": path}).collect())
    assert got == [(2, 20), (6, 101)]


@pytest.mark.parametrize("method", ["cow", "mor"])
def test_delta_update_keeps_row_ids(spark, tmp_path, method):
    """Row tracking: an updated row keeps its ``_row_id`` and its commit
    version moves to the update's commit, whether the update rewrites
    the file or re-appends the row beside a deletion vector."""
    path = str(tmp_path / "t")
    write_delta_native(
        spark,
        spark.createDataFrame([(i, i) for i in range(5)], "id long, v long")
        .coalesce(1),
        {"path": path, "properties": {"delta.enableRowTracking": "true"}},
    )
    update_delta_native(spark, {
        "path": path, "method": method,
        "where": [{"key": "id", "op": "=", "value": 2}],
        "set": {"v": "v + 100"},
    })
    got = sorted(
        (r["id"], r["v"], r["_row_id"], r["_row_commit_version"])
        for r in read_delta_native(
            spark, {"path": path, "withRowIds": True}
        ).collect()
    )
    assert got == [(0, 0, 0, 0), (1, 1, 1, 0), (2, 102, 2, 1),
                   (3, 3, 3, 0), (4, 4, 4, 0)]


# ------------------------------------------------------------------ merge

# 0 and 1 are live, 6 was deleted before (its key matches no live row),
# 100 is new; 1 is deleted, the others upsert
MERGE = [(0, "a", 999, "UPSERT"), (1, None, None, "DELETE"),
         (6, "a", 60, "UPSERT"), (100, "b", 5, "UPSERT")]


@pytest.mark.parametrize("fmt,method", [
    ("delta", "cow"), ("delta", "mor"), ("iceberg", "cow"),
])
def test_same_merge_on_both_formats(spark, tmp_path, fmt, method):
    path = str(tmp_path / fmt)
    batch = spark.createDataFrame(
        MERGE, "id long, grp string, v long, __op__ string"
    )
    p = {"path": path, "primaryKeys": ["id"], "method": method}
    if fmt == "delta":
        read = _delta(spark, path)
        out = merge_delta_native(spark, batch, p)
    else:
        read = _iceberg(spark, path)
        out = merge_iceberg_native(spark, batch, p)
    assert out["merged_rows"] == 2
    alive = {r for r in ROWS if r[0] not in (0, 1, 6, 13)}
    want = alive | {(0, "a", 999), (6, "a", 60), (100, "b", 5)}
    assert set(_rows(read)) == want


def test_delta_merge_on_a_partition_key_rewrites_only_hit_files(
    spark, tmp_path,
):
    """Keys that include the partition column are probed by rows like
    any other key: group b's two files both admit id 5 by their stats,
    and only the one holding it rewrites."""
    path = str(tmp_path / "t")
    for ids, grp in (([1, 5, 9], "b"), ([3, 7, 11], "b"), ([2, 6], "a")):
        write_delta_native(spark, spark.createDataFrame(
            [(i, grp, i * 10) for i in ids], "id long, grp string, v long",
        ).coalesce(1), {"path": path, "mode": "append",
                        "partitionBy": ["grp"]})
    out = merge_delta_native(spark, spark.createDataFrame(
        [(5, "b", 7, "UPSERT")], "id long, grp string, v long, __op__ string",
    ), {"path": path, "primaryKeys": ["grp", "id"]})
    assert out == {"merged_rows": 1, "rewritten_files": 1, "upsert_files": 1}
    got = sorted(tuple(r) for r in read_delta_native(spark, {"path": path})
                 .select("id", "grp", "v").collect())
    assert got == [(1, "b", 10), (2, "a", 20), (3, "b", 30), (5, "b", 7),
                   (6, "a", 60), (7, "b", 70), (9, "b", 90), (11, "b", 110)]


def _jobs(spark, name, fn):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_merge_job_counts(spark, tmp_path):
    """A 4k-row CDC batch (10% DELETE) merged into a 20k-row table,
    unpartitioned and in 3 partition groups: Spark jobs in the merge's
    job group.  The Delta copy-on-write merge took 10 and 20 jobs when
    it counted each partition group's matches separately; one probe
    collect now counts them all."""
    from pyspark.sql import functions as F

    def base():
        return spark.range(20000).select(
            "id", (F.col("id") % 3).cast("int").alias("g"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
        )

    def batch():
        return spark.range(18000, 22000).select(
            "id", (F.col("id") % 3).cast("int").alias("g"),
            F.lit("new").alias("v"),
            F.when(F.col("id") % 10 == 0, "DELETE").otherwise("UPSERT")
            .alias("__op__"),
        ).coalesce(1)

    got = {}
    for part in (False, True):
        kw = {"partitionBy": ["g"]} if part else {}
        for method in ("cow", "mor"):
            tbl = str(tmp_path / f"delta_{part}_{method}")
            write_delta_native(spark, base(), {"path": tbl, **kw})
            got["delta", method, part] = _jobs(
                spark, f"merge-delta-{method}-{part}",
                lambda: merge_delta_native(spark, batch(), {
                    "path": tbl, "primaryKeys": ["id"], "method": method,
                }),
            )
        tbl = str(tmp_path / f"iceberg_{part}")
        write_iceberg_native(base(), {"path": tbl, "mode": "create", **kw})
        got["iceberg", "cow", part] = _jobs(
            spark, f"merge-iceberg-{part}",
            lambda: merge_iceberg_native(
                spark, batch(), {"path": tbl, "primaryKeys": ["id"]}),
        )
    assert got["delta", "cow", False] == 7
    assert got["delta", "cow", True] == 11
    for part in (False, True):
        assert got["delta", "mor", part] <= 4
        assert got["iceberg", "cow", part] <= 6


def test_delta_empty_merge_commits_nothing(spark, tmp_path):
    """A merge with no remove, deletion vector or add action (an empty
    batch) and no ``txn`` commits no version and stages no file."""
    from pipeline_spark.sources.delta_native import replay_state

    path = str(tmp_path / "t")
    write_delta_native(spark, spark.range(5).coalesce(1), {"path": path})
    for method in ("cow", "mor"):
        out = merge_delta_native(spark, spark.createDataFrame(
            [], "id long, __op__ string",
        ), {"path": path, "primaryKeys": ["id"], "method": method})
        assert out["merged_rows"] == 0 and out["upsert_files"] == 0
    assert replay_state(path)[3] == 0
    staged = [f for _r, _d, fs in os.walk(path) for f in fs
              if f.endswith(".parquet")]
    assert len(staged) == 1


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_compaction_commits_no_empty_file(spark, tmp_path, fmt):
    """Two files whose every row a prior merge-on-read delete removed:
    compaction retires both and adds nothing, rather than a 0-row
    rewrite."""
    from pipeline_spark.sinks.delta_native import compact_delta_native
    from pipeline_spark.sinks.iceberg_native import compact_iceberg_native
    from pipeline_spark.sources.delta_native import replay_state
    from pipeline_spark.sources.iceberg_native import plan_files

    path = str(tmp_path / fmt)
    gone = [{"key": "id", "op": ">=", "value": 0}]
    for lo in (0, 5):
        df = spark.range(lo, lo + 5).coalesce(1)
        if fmt == "delta":
            write_delta_native(spark, df, {"path": path, "mode": "append"})
        else:
            write_iceberg_native(df, {"path": path,
                                      "mode": "append" if lo else "create"})
    if fmt == "delta":
        delete_delta_native(spark, {"path": path, "where": gone,
                                    "method": "mor"})
        out = compact_delta_native(spark, {"path": path})
        assert replay_state(path)[0] == []
        read = read_delta_native
    else:
        delete_iceberg_native(spark, {"path": path, "where": gone})
        out = compact_iceberg_native(spark, {"path": path})
        assert plan_files(path)[:2] == ([], [])
        read = read_iceberg_native
    assert out["compacted_files"] == 2 and out["new_files"] == 0
    assert read(spark, {"path": path}).count() == 0


# ------------------------------------------------------------ AST guard

PKG = pathlib.Path(__file__).resolve().parents[1] / "pipeline_spark"


def _functions(rel: str) -> dict[str, ast.FunctionDef]:
    tree = ast.parse((PKG / rel).read_text())
    return {
        n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
    }


def _semi_anti(node: ast.AST) -> list[int]:
    """Lines naming a left-semi or left-anti join under ``node``."""
    return [
        n.lineno for n in ast.walk(node)
        if isinstance(n, ast.Constant)
        and n.value in ("left_semi", "left_anti", "leftsemi", "leftanti")
    ]


def _calls(fn: ast.FunctionDef, module: str, name: str) -> bool:
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == name and isinstance(n.func.value, ast.Name)
        and n.func.value.id == module
        for n in ast.walk(fn)
    )


def test_merge_is_planned_in_rowlevel():
    defined = set()
    for path in PKG.rglob("*.py"):
        defined |= set(_functions(path.relative_to(PKG).as_posix()))
    assert "_dv_merge" not in defined
    delta = _functions("sinks/delta_native.py")
    iceberg = _functions("sinks/iceberg_native.py")
    for fn in (delta["merge_delta_native"], iceberg["merge_iceberg_native"]):
        assert _calls(fn, "rowlevel", "merge"), fn.name
    tree = ast.parse((PKG / "sinks/delta_native.py").read_text())
    assert _semi_anti(tree) == []
    assert _semi_anti(iceberg["merge_iceberg_native"]) == []


def test_the_merge_scan_sees_the_planner():
    # a scan that finds nothing proves nothing
    tree = ast.parse((PKG / "sinks/rowlevel.py").read_text())
    assert len(_semi_anti(tree)) == 2
    delta = _functions("sinks/delta_native.py")
    assert _calls(delta["_mutate_where"], "rowlevel", "mutate")
    assert not _calls(delta["_mutate_where"], "rowlevel", "merge")


def _called(path: pathlib.Path, names: set[str]) -> list[str]:
    """``name:line`` of every call to one of ``names`` in ``path``, as
    a bare name or an attribute."""
    out = []
    for n in ast.walk(ast.parse(path.read_text())):
        if isinstance(n, ast.Call):
            f = n.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None)
            if name in names:
                out.append(f"{name}:{n.lineno}")
    return out


_LAYOUT = {"zvalue_column", "repartitionByRange"}


def test_compaction_is_planned_in_rowlevel():
    for path in (PKG / "sinks").glob("*.py"):
        if path.name != "rowlevel.py":
            assert _called(path, _LAYOUT) == [], path.name
    defined = set()
    for path in PKG.rglob("*.py"):
        defined |= set(_functions(path.relative_to(PKG).as_posix()))
    assert not defined & {
        "_zorder_compact", "_compact_iceberg_once", "_read_evolved_group",
    }
    delta = _functions("sinks/delta_native.py")
    iceberg = _functions("sinks/iceberg_native.py")
    for fn in (delta["compact_delta_native"],
               iceberg["compact_iceberg_native"]):
        assert _calls(fn, "rowlevel", "compact"), fn.name


def test_the_compaction_scan_sees_the_planner():
    # a scan that finds nothing proves nothing
    assert sorted(
        c.split(":")[0]
        for c in _called(PKG / "sinks/rowlevel.py", _LAYOUT)
    ) == ["repartitionByRange", "zvalue_column"]
