"""Each lakehouse format reads the live rows of a snapshot through one
``live_rows``: the source reader and the row-level adapter's reader
(DELETE, UPDATE, MERGE and compaction read through it) return the same
rows, and the same row ids where the table has them, over every live
file.  One case per reader feature: Delta deletion vectors, column
mapping, row tracking and a non-hive partition layout; Iceberg schema
evolution, an identity-fill import, v3 lineage, position deletes,
puffin deletion vectors and equality deletes.  An AST scan keeps the
deletion-vector decoders inside those readers."""

import ast
import functools
import pathlib

import pytest

import pipeline_spark.sinks.delta_native as dn
import pipeline_spark.sinks.iceberg_native as ice
from pipeline_spark.sinks.iceberg_addfiles import add_files_iceberg_native
from pipeline_spark.sources.delta_native import read_delta_native, replay_state
from pipeline_spark.sources.iceberg_native import read_iceberg_native

SCHEMA = "id long, grp string, v long"
ROWS = [(i, "abc"[i % 3], i * 10) for i in range(12)]
GONE = [{"key": "id", "op": "in", "value": [1, 5]}]


def _delta(spark, path, *, props=None, appends=1, mor=True, update=False):
    for k in range(appends):
        dn.write_delta_native(
            spark, spark.createDataFrame(ROWS[k::appends], SCHEMA).coalesce(1),
            {"path": path, "mode": "append", "partitionBy": ["grp"],
             "properties": props or {}},
        )
    if update:
        # copy-on-write: the rewritten rows carry materialized row ids
        dn.update_delta_native(spark, {
            "path": path, "where": [{"key": "id", "op": ">", "value": 8}],
            "set": {"v": "v + 1"},
        })
    dn.delete_delta_native(
        spark, {"path": path, "where": GONE, "method": "mor" if mor else "cow"}
    )


def _delta_dv(spark, path):
    _delta(spark, path)


def _delta_column_mapping(spark, path):
    _delta(spark, path, props={"delta.columnMapping.mode": "name"})


def _delta_row_tracking(spark, path):
    _delta(spark, path, props={"delta.enableRowTracking": "true"}, update=True)


def _delta_non_hive(spark, path):
    # files of several commits: the per-partition literal-group scan
    _delta(spark, path, appends=3)


def _ice(spark, path, rows=ROWS, props=None):
    ice.write_iceberg_native(
        spark.createDataFrame(rows, SCHEMA).coalesce(1),
        {"path": path, "mode": "create", "properties": props or {}},
    )


def _ice_evolved(spark, path):
    ice.write_iceberg_native(
        spark.createDataFrame(ROWS[:6], "id long, grp string, val long")
        .coalesce(1), {"path": path, "mode": "create"},
    )
    ice.alter_iceberg_native(
        spark, {"path": path, "renameColumn": {"val": "v"}}
    )
    ice.write_iceberg_native(
        spark.createDataFrame(ROWS[6:], SCHEMA).coalesce(1),
        {"path": path, "mode": "append"},
    )
    ice.delete_iceberg_native(spark, {"path": path, "where": GONE})


def _ice_identity_fill(spark, path):
    src = path + "_hive"
    spark.createDataFrame(ROWS, SCHEMA).write.partitionBy("grp").parquet(src)
    add_files_iceberg_native(spark, {"path": path, "sourceDir": src})
    ice.delete_iceberg_native(spark, {"path": path, "where": GONE})


def _ice_v3_lineage(spark, path):
    _ice(spark, path, props={"format-version": "3"})
    ice.update_iceberg_native(spark, {
        "path": path, "where": [{"key": "id", "op": ">", "value": 8}],
        "set": {"v": "v + 1"}, "method": "cow",
    })
    ice.delete_iceberg_native(
        spark, {"path": path, "where": GONE, "method": "cow"}
    )
    ice.write_iceberg_native(
        spark.createDataFrame([(20, "a", 200)], SCHEMA).coalesce(1),
        {"path": path, "mode": "append"},
    )


def _ice_position_deletes(spark, path):
    _ice(spark, path)
    ice.delete_iceberg_native(spark, {"path": path, "where": GONE})


def _ice_puffin_dv(spark, path):
    _ice(spark, path, props={"format-version": "3"})
    ice.delete_iceberg_native(spark, {"path": path, "where": GONE})


def _ice_equality_deletes(spark, path):
    _ice(spark, path)
    ice.equality_delete_iceberg_native(
        spark, {"path": path, "values": [{"id": 1}, {"id": 5}]}
    )


def _delta_readers(spark, path):
    rl = dn._Rowlevel(spark, path, replay_state(path)[:4], "delete", cdf=False)
    ids = rl.t.lineage is not None
    return (read_delta_native(spark, {"path": path, "withRowIds": ids}),
            rl.t.read(rl.t.files, True), rl.t.lineage)


def _ice_readers(spark, path):
    rl = ice._Rowlevel(spark, {"path": path}, ice.IcebergTable({"path": path}),
                       "delete")
    ids = rl.t.lineage is not None
    return (read_iceberg_native(spark, {"path": path, "withRowIds": ids}),
            rl.t.read(rl.t.files, True), rl.t.lineage)


CASES = {
    "delta-dv": (_delta_dv, _delta_readers),
    "delta-column-mapping": (_delta_column_mapping, _delta_readers),
    "delta-row-tracking": (_delta_row_tracking, _delta_readers),
    "delta-non-hive": (_delta_non_hive, _delta_readers),
    "iceberg-evolved": (_ice_evolved, _ice_readers),
    "iceberg-identity-fill": (_ice_identity_fill, _ice_readers),
    "iceberg-v3-lineage": (_ice_v3_lineage, _ice_readers),
    "iceberg-position-deletes": (_ice_position_deletes, _ice_readers),
    "iceberg-puffin-dv": (_ice_puffin_dv, _ice_readers),
    "iceberg-equality-deletes": (_ice_equality_deletes, _ice_readers),
}
#: the cases whose table has row ids
LINEAGE = {"delta-row-tracking", "iceberg-v3-lineage", "iceberg-puffin-dv"}


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("case", sorted(CASES))
def test_source_and_rowlevel_read_the_same_live_rows(spark, tmp_path, case):
    build, readers = CASES[case]
    path = str(tmp_path / case)
    build(spark, path)
    source, adapter, lineage = readers(spark, path)
    assert (lineage is not None) == (case in LINEAGE)
    got = _rows(source, ["id", "grp", "v"])
    assert got == _rows(adapter, ["id", "grp", "v"])
    assert len(got) >= 10 and not {1, 5} & {r[0] for r in got}
    if lineage:
        ids = _rows(source, ["id", *lineage[:2]])
        assert ids == _rows(adapter, ["id", *lineage[:2]])
        assert None not in {r[1] for r in ids}
        assert len({r[1] for r in ids}) == len(ids)


PKG = pathlib.Path(__file__).resolve().parent.parent / "pipeline_spark"
_DECODERS = {"load_dv_positions", "read_dv_positions", "positions_frame"}
#: the top-level functions that may call a DV decoder: the two live-row
#: readers (Iceberg's through its shared (file, position) frame builder),
#: the streaming reader's per-file generator, the two DV writers that
#: merge a file's prior vector, and the format converter
ALLOWED = {
    ("sources/delta_native.py", "live_rows"),
    ("sources/iceberg_native.py", "_deleted_positions"),
    ("sources/delta_stream.py", "_live_file_rows"),
    ("sinks/delta_native.py", "_dv_actions"),
    ("sinks/iceberg_native.py", "_write_position_deletes"),
    ("sinks/tableconvert.py", "*"),
}
_GONE = {
    "read_files_with_dv", "_keep_row_ids", "drop_deleted", "add_meta",
    "done", "_state_with_lineage", "_fill_schema_read",
}


@functools.cache
def _modules() -> dict[str, ast.Module]:
    return {
        path.relative_to(PKG).as_posix(): ast.parse(path.read_text())
        for path in PKG.rglob("*.py")
    }


def _decoder_calls() -> set[tuple[str, str]]:
    """``(module, top-level function)`` of every DV decoder call in the
    engine, outside the decoders' own modules."""
    out = set()
    for rel, tree in _modules().items():
        if rel in ("functions/deltadv.py", "functions/puffin.py",
                   "functions/dvframe.py"):
            continue
        for top in tree.body:
            for n in ast.walk(top):
                if isinstance(n, ast.Call):
                    f = n.func
                    name = f.attr if isinstance(f, ast.Attribute) else getattr(
                        f, "id", None)
                    if name in _DECODERS:
                        out.add((rel, getattr(top, "name", "<module>")))
    return out


def test_deletion_vectors_decode_only_in_the_live_row_readers():
    calls = {
        (rel, "*" if rel == "sinks/tableconvert.py" else fn)
        for rel, fn in _decoder_calls()
    }
    assert calls <= ALLOWED, calls - ALLOWED
    defined = {
        n.name for tree in _modules().values() for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    assert not defined & _GONE


def test_the_decoder_scan_sees_every_reader():
    # a scan that finds nothing proves nothing
    calls = _decoder_calls()
    assert {fn for _rel, fn in calls} >= {
        fn for _rel, fn in ALLOWED if fn != "*"
    }
    assert any(rel == "sinks/tableconvert.py" for rel, _fn in calls)
