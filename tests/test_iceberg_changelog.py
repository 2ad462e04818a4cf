"""Iceberg changelog read (r8) — the Delta-CDF twin with Spark-Iceberg's
create_changelog_view output shape (_change_type / _change_ordinal /
_commit_snapshot_id), derived uniformly from per-snapshot metadata
diffs: added files → inserts, removed files → their prior-live rows as
deletes, added delete files → the exact rows they removed."""

import pytest

from pipeline_spark.sinks.iceberg_native import (
    compact_iceberg_native,
    delete_iceberg_native,
    merge_iceberg_native,
    upsert_iceberg_native,
    write_iceberg_native,
)
from pipeline_spark.sources.iceberg_native import (
    find_table_metadata,
    read_iceberg_changelog,
    read_iceberg_native,
)


def _changes(df):
    return sorted(
        (r["_change_type"], r["id"], r["v"], r["_change_ordinal"])
        for r in df.collect()
    )


def _mk(spark, tmp_path, rows, name="tbl"):
    tbl = str(tmp_path / name)
    write_iceberg_native(
        spark.createDataFrame(rows, "id long, v string").coalesce(1),
        {"path": tbl, "mode": "create"},
    )
    return tbl


def test_appends_surface_as_inserts(spark, tmp_path):
    tbl = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    write_iceberg_native(
        spark.createDataFrame([(3, "c")], "id long, v string").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    out = read_iceberg_changelog(spark, {"path": tbl})
    assert _changes(out) == [
        ("insert", 1, "a", 0), ("insert", 2, "b", 0), ("insert", 3, "c", 1),
    ]


def test_from_snapshot_exclusive(spark, tmp_path):
    import json

    tbl = _mk(spark, tmp_path, [(1, "a")])
    meta = json.load(open(find_table_metadata(tbl)))
    first = meta["current-snapshot-id"]
    write_iceberg_native(
        spark.createDataFrame([(2, "b")], "id long, v string").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    out = read_iceberg_changelog(spark, {"path": tbl, "fromSnapshotId": first})
    assert _changes(out) == [("insert", 2, "b", 0)]


def test_upsert_emits_delete_plus_insert(spark, tmp_path):
    tbl = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    upsert_iceberg_native(
        spark,
        spark.createDataFrame(
            [(2, "B", "UPSERT"), (3, None, "DELETE")],
            "id long, v string, __op__ string",
        ),
        {"path": tbl, "primaryKeys": ["id"]},
    )
    out = read_iceberg_changelog(spark, {"path": tbl})
    got = _changes(out)
    assert ("delete", 2, "b", 1) in got      # old row removed by eq delete
    assert ("delete", 3, "c", 1) in got
    assert ("insert", 2, "B", 1) in got      # new row in the same snapshot
    assert ("insert", 3, "c", 0) in got      # original insert from creation
    assert len([g for g in got if g[3] == 1]) == 3


def test_position_delete_emits_exact_rows(spark, tmp_path):
    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(6)])
    delete_iceberg_native(spark, {
        "path": tbl, "where": [{"key": "id", "op": "in", "value": [1, 4]}],
    })
    out = read_iceberg_changelog(spark, {"path": tbl})
    got = _changes(out)
    assert ("delete", 1, "v1", 1) in got and ("delete", 4, "v4", 1) in got
    assert len([g for g in got if g[0] == "delete"]) == 2


def test_puffin_dv_delete_emits_exact_rows(spark, tmp_path):
    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(6)])
    delete_iceberg_native(spark, {
        "path": tbl, "format": "puffin",
        "where": [{"key": "id", "op": "=", "value": 2}],
    })
    out = read_iceberg_changelog(spark, {"path": tbl})
    assert ("delete", 2, "v2", 1) in _changes(out)


def test_compaction_emits_nothing(spark, tmp_path):
    import json

    tbl = _mk(spark, tmp_path, [(1, "a")])
    write_iceberg_native(
        spark.createDataFrame([(2, "b")], "id long, v string").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    meta = json.load(open(find_table_metadata(tbl)))
    pre_compact = meta["current-snapshot-id"]
    compact_iceberg_native(spark, {"path": tbl, "targetFileBytes": 1 << 30})
    out = read_iceberg_changelog(
        spark, {"path": tbl, "fromSnapshotId": pre_compact})
    assert out.count() == 0  # replace snapshots are layout, not data


def test_cow_merge_full_file_semantics(spark, tmp_path):
    """A COW merge rewriting a file surfaces its survivors as
    delete+insert (full-file semantics) — state reconstruction nets to
    the final table."""
    from pyspark.sql import functions as F

    tbl = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    merge_iceberg_native(
        spark,
        spark.createDataFrame([(2, "B")], "id long, v string"),
        {"path": tbl, "primaryKeys": ["id"]},
    )
    out = read_iceberg_changelog(spark, {"path": tbl})
    got = _changes(out)
    # reconstruct: per id keep the last insert not followed by a delete
    state = {}
    for ct, i, v, o in sorted(got, key=lambda g: g[3]):
        if ct == "insert":
            state[i] = v
        elif state.get(i) == v:
            del state[i]
    # survivors re-inserted in ordinal 1 override ordinal-0 state
    final = {}
    for ct, i, v, o in sorted(got, key=lambda g: (g[3], g[0] == "insert")):
        if ct == "delete" and final.get(i) == v:
            final.pop(i, None)
        elif ct == "insert":
            final[i] = v
    expect = {r["id"]: r["v"] for r in read_iceberg_native(
        spark, {"path": tbl}).collect()}
    assert final == expect == {1: "a", 2: "B"}


def test_bad_bounds_raise(spark, tmp_path):
    tbl = _mk(spark, tmp_path, [(1, "a")])
    with pytest.raises(ValueError, match="not"):
        read_iceberg_changelog(spark, {"path": tbl, "fromSnapshotId": 999})


def test_changelog_module_incremental_checkpoint(spark, tmp_path):
    """changelog: true + checkpointFile — each run consumes the
    snapshots since the checkpointed high-water and advances it (the
    microbatch resume pattern on snapshot ids); a caught-up run yields
    an empty frame."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    tbl = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    cp = str(tmp_path / "cl_ckpt.json")
    cfg = f"""
sources:
  - name: log
    module: iceberg
    parameters: {{path: {tbl}, changelog: true, checkpointFile: {cp}}}
"""

    def consume():
        return sorted(
            (r["_change_type"], r["id"], r["v"])
            for r in run_pipeline(spark, parse_config(cfg))["log"].collect()
        )

    assert consume() == [("insert", 1, "a"), ("insert", 2, "b")]
    write_iceberg_native(
        spark.createDataFrame([(3, "c")], "id long, v string").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    assert consume() == [("insert", 3, "c")]  # only the new snapshot
    assert consume() == []                     # caught up


def test_identifier_columns_compute_updates(spark, tmp_path):
    """identifierColumns pairs a key's delete+insert within one snapshot
    into update_preimage/update_postimage, and drops pairs whose data
    columns are unchanged — full-file COW survivor noise nets out."""
    tbl = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    merge_iceberg_native(
        spark,
        spark.createDataFrame(
            [(2, "B", "UPSERT"), (3, None, "DELETE"), (4, "d", "UPSERT")],
            "id long, v string, __op__ string",
        ),
        {"path": tbl, "primaryKeys": ["id"]},
    )
    out = read_iceberg_changelog(
        spark, {"path": tbl, "identifierColumns": ["id"]})
    got = sorted(
        (r["_change_type"], r["id"], r["v"], r["_change_ordinal"])
        for r in out.collect()
    )
    assert got == [
        ("delete", 3, "c", 1),               # true delete
        ("insert", 1, "a", 0),               # creation
        ("insert", 2, "b", 0),
        ("insert", 3, "c", 0),
        ("insert", 4, "d", 1),               # true insert
        ("update_postimage", 2, "B", 1),     # paired update
        ("update_preimage", 2, "b", 1),
        # id=1 COW survivor (delete+reinsert of identical row): netted out
    ]


def test_rest_catalog_changelog(spark, tmp_path):
    from tests.test_iceberg_native import _serve_stateful_catalog

    srv, _state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        cat_p = {"catalog": {"uri": uri}, "table": "ns.cl",
                 "location": str(tmp_path / "rest_cl")}
        write_iceberg_native(
            spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1),
            {**cat_p, "mode": "create"},
        )
        write_iceberg_native(
            spark.createDataFrame([(2, "b")], "id long, v string").coalesce(1),
            {**cat_p, "mode": "append"},
        )
        out = read_iceberg_changelog(
            spark, {"catalog": {"uri": uri}, "table": "ns.cl"})
        assert _changes(out) == [
            ("insert", 1, "a", 0), ("insert", 2, "b", 1),
        ]
    finally:
        srv.shutdown()


def test_checkpoint_pins_the_bound_actually_read(spark, tmp_path):
    """r9 (ADVICE r8): the checkpoint must record the INCLUSIVE snapshot
    bound the changelog actually consumed — not current-snapshot-id
    re-read at checkpoint time.  A commit landing between the read and
    the checkpoint (simulated with an explicit older toSnapshotId) must
    surface on the next run instead of being skipped forever."""
    import json

    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    tbl = _mk(spark, tmp_path, [(1, "a")])
    meta = json.load(open(find_table_metadata(tbl)))
    first = meta["current-snapshot-id"]
    # the "concurrent" commit: lands before the checkpoint is written
    write_iceberg_native(
        spark.createDataFrame([(2, "b")], "id long, v string").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    cp = str(tmp_path / "pin_ckpt.json")
    cfg = f"""
sources:
  - name: log
    module: iceberg
    parameters:
      path: {tbl}
      changelog: true
      checkpointFile: {cp}
      toSnapshotId: {first}
"""
    out = run_pipeline(spark, parse_config(cfg))["log"]
    assert sorted(r["id"] for r in out.collect()) == [1]
    # checkpoint = the bound read (first), NOT the table's current head
    assert json.load(open(cp))["snapshot-id"] == first
    cfg2 = f"""
sources:
  - name: log
    module: iceberg
    parameters: {{path: {tbl}, changelog: true, checkpointFile: {cp}}}
"""
    nxt = run_pipeline(spark, parse_config(cfg2))["log"]
    assert sorted(r["id"] for r in nxt.collect()) == [2]  # not skipped


def test_checkpoint_not_written_when_sink_fails(spark, tmp_path):
    """The checkpoint write is deferred to post-commit: a failing sink
    must NOT advance the high-water (the batch would be lost)."""
    import pytest as _pytest

    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    tbl = _mk(spark, tmp_path, [(1, "a")])
    cp = str(tmp_path / "fail_ckpt.json")
    cfg = f"""
sources:
  - name: log
    module: iceberg
    parameters: {{path: {tbl}, changelog: true, checkpointFile: {cp}}}
sinks:
  - name: out
    module: storage
    inputs: [log]
    parameters: {{format: nosuchformat, output: /tmp/nowhere}}
"""
    with _pytest.raises(Exception):
        run_pipeline(spark, parse_config(cfg))
    import os

    assert not os.path.exists(cp)


def test_rest_catalog_changelog_checkpoint(spark, tmp_path):
    """catalog + checkpointFile: the checkpoint path must not assume a
    filesystem table (it used to call find_table_metadata('ns.tbl') and
    crash); the bound comes from the changelog read itself."""
    import json

    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline
    from tests.test_iceberg_native import _serve_stateful_catalog

    srv, _state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        cat_p = {"catalog": {"uri": uri}, "table": "ns.clc",
                 "location": str(tmp_path / "rest_clc")}
        write_iceberg_native(
            spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1),
            {**cat_p, "mode": "create"},
        )
        cp = str(tmp_path / "rest_ckpt.json")
        cfg = f"""
sources:
  - name: log
    module: iceberg
    parameters:
      catalog: {{uri: "{uri}"}}
      table: ns.clc
      changelog: true
      checkpointFile: {cp}
"""
        out = run_pipeline(spark, parse_config(cfg))["log"]
        assert sorted(r["id"] for r in out.collect()) == [1]
        assert "snapshot-id" in json.load(open(cp))
        write_iceberg_native(
            spark.createDataFrame([(2, "b")], "id long, v string").coalesce(1),
            {**cat_p, "mode": "append"},
        )
        nxt = run_pipeline(spark, parse_config(cfg))["log"]
        assert sorted(r["id"] for r in nxt.collect()) == [2]
    finally:
        srv.shutdown()


def test_eq_delete_changelog_survives_rename(spark, tmp_path):
    """r12 (review find): the changelog's equality-delete resolution
    used CURRENT schema names against the delete parquet — a column
    renamed after the delete landed unresolved (the delete file still
    carries the old physical name).  Field-id resolution fixes it, like
    plan_equality_deletes already did for the MOR read."""
    from pipeline_spark.sinks.iceberg_native import (
        alter_iceberg_native,
        equality_delete_iceberg_native,
    )

    tbl = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")], "ren")
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 2}]})
    alter_iceberg_native(spark, {"path": tbl, "renameColumn": {"id": "key"}})
    out = read_iceberg_changelog(spark, {"path": tbl})
    got = sorted(
        (r["_change_type"], r["key"], r["v"], r["_change_ordinal"])
        for r in out.collect()
    )
    assert got == [
        ("delete", 2, "b", 1),
        ("insert", 1, "a", 0), ("insert", 2, "b", 0), ("insert", 3, "c", 0),
    ]


def test_multiple_eq_delete_files_one_group(spark, tmp_path):
    """Several equality-delete files over the same key set in one
    snapshot resolve through ONE key union + ONE prior-state build (the
    r12 pruning refactor) — and the emitted deletes are exact."""
    import os

    from pipeline_spark.functions.avroocf import (
        read_ocf_file_with_meta,
        write_ocf_bytes,
    )
    from pipeline_spark.sinks.iceberg_native import (
        equality_delete_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import (
        _strip_scheme,
        load_table_metadata,
        plan_files,
    )

    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(8)], "multi")
    equality_delete_iceberg_native(
        spark, {"path": tbl, "values": [{"id": 1}, {"id": 5}]}
    )
    out = read_iceberg_changelog(spark, {"path": tbl})
    dels = [c for c in _changes(out) if c[0] == "delete"]
    assert dels == [("delete", 1, "v1", 1), ("delete", 5, "v5", 1)]


def test_imported_table_changes_carry_identity_partition(spark, tmp_path):
    """An ``add_files``-imported hive directory never wrote its ``par``
    column into the parquet files: the changelog reads them through the
    same live-row reader as the source, so inserts and the rows a later
    delete removes carry ``par`` from the partition records (spec
    §Column Projection, rule 2)."""
    from pipeline_spark.sinks.iceberg_addfiles import add_files_iceberg_native

    src = str(tmp_path / "hive")
    rows = [(i, f"v{i}", i % 2) for i in range(4)]
    spark.createDataFrame(rows, "id long, v string, par long").write \
        .partitionBy("par").parquet(src)
    tbl = str(tmp_path / "imported")
    add_files_iceberg_native(spark, {"path": tbl, "sourceDir": src})
    delete_iceberg_native(
        spark, {"path": tbl, "where": [{"key": "id", "op": "=", "value": 1}]}
    )
    out = read_iceberg_changelog(spark, {"path": tbl})
    got = sorted(
        (r["_change_type"], r["id"], r["v"], r["par"], r["_change_ordinal"])
        for r in out.collect()
    )
    assert got == sorted(
        [("insert", i, v, par, 0) for i, v, par in rows]
        + [("delete", 1, "v1", 1, 1)]
    )
