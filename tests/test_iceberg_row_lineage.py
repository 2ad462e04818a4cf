"""Iceberg v3 row lineage exposure + preservation (r10, spec §Row
Lineage): appends stamp each data file's EXPLICIT first_row_id
(manifest field-id 142), ``withRowIds: true`` derives ``_row_id`` =
materialized column else first_row_id + position, and every rewrite
(compaction / COW delete / update / merge survivors) MATERIALIZES the
ids — closing r9's fresh-ids-on-rewrite boundary."""

import pytest

from pipeline_spark.sinks.iceberg_native import (
    compact_iceberg_native,
    delete_iceberg_native,
    merge_iceberg_native,
    update_iceberg_native,
    write_iceberg_native,
)
from pipeline_spark.sources.iceberg_native import read_iceberg_native


def _mk_v3(spark, tmp_path, name, rows, parts=1):
    """A v3 table via iceberg's own opt-in:
    CREATE TBLPROPERTIES('format-version'='3')."""
    tbl = str(tmp_path / name)
    write_iceberg_native(
        spark.createDataFrame(rows, "id long, v string").coalesce(parts),
        {"path": tbl, "mode": "create", "properties": {"format-version": "3"}},
    )
    return tbl


def _ids(spark, tbl):
    return sorted(
        (r["id"], r["_row_id"])
        for r in read_iceberg_native(
            spark, {"path": tbl, "withRowIds": True}
        ).collect()
    )


def test_v3_appends_assign_contiguous_ids(spark, tmp_path):
    tbl = _mk_v3(spark, tmp_path, "il1", [(i, f"v{i}") for i in range(6)])
    write_iceberg_native(
        spark.createDataFrame([(6, "x"), (7, "y")], "id long, v string")
        .coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    got = _ids(spark, tbl)
    assert got == [(i, i) for i in range(8)]


def test_add_files_into_v3_table_assigns_row_ids(spark, tmp_path):
    """add_files commits through the shared snapshot commit, so imported
    files take row ids off the table's next-row-id like any append."""
    from pipeline_spark.sinks.iceberg_addfiles import add_files_iceberg_native
    from pipeline_spark.sources.iceberg_native import load_table_metadata

    tbl = _mk_v3(spark, tmp_path, "il_add", [(i, f"v{i}") for i in range(3)])
    src = str(tmp_path / "import")
    spark.createDataFrame([(3, "x"), (4, "y")], "id long, v string") \
        .coalesce(1).write.parquet(src)
    add_files_iceberg_native(spark, {"path": tbl, "sourceDir": src})
    assert _ids(spark, tbl) == [(i, i) for i in range(5)]
    meta = load_table_metadata(tbl)
    cur = next(s for s in meta["snapshots"]
               if s["snapshot-id"] == meta["current-snapshot-id"])
    assert cur["first-row-id"] == 3
    assert meta["next-row-id"] == 5


def test_v2_withrowids_refuses(spark, tmp_path):
    tbl = str(tmp_path / "il2")
    write_iceberg_native(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        {"path": tbl, "mode": "create"},
    )
    with pytest.raises(ValueError, match="format-version 3"):
        read_iceberg_native(spark, {"path": tbl, "withRowIds": True})


def test_compaction_preserves_row_ids(spark, tmp_path):
    import pyarrow.parquet as pq

    from pipeline_spark.sources.iceberg_native import plan_files

    tbl = _mk_v3(spark, tmp_path, "il3", [(i, f"v{i}") for i in range(4)])
    write_iceberg_native(
        spark.createDataFrame([(4, "e"), (5, "f")], "id long, v string")
        .coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    before = _ids(spark, tbl)
    compact_iceberg_native(spark, {"path": tbl, "minFilesPerGroup": 2})
    assert _ids(spark, tbl) == before
    # ids are physically MATERIALIZED in the rewritten file
    data, _d, _m = plan_files(tbl)
    assert len(data) == 1
    assert "_row_id" in pq.read_schema(data[0]["path"]).names
    # and the plain read does NOT leak the metadata column
    plain = read_iceberg_native(spark, {"path": tbl})
    assert "_row_id" not in plain.columns


def test_cow_delete_preserves_survivor_ids(spark, tmp_path):
    tbl = _mk_v3(spark, tmp_path, "il4", [(i, f"v{i}") for i in range(8)])
    delete_iceberg_native(spark, {
        "path": tbl, "method": "cow",
        "where": [{"key": "id", "op": "<", "value": 3}],
    })
    assert _ids(spark, tbl) == [(i, i) for i in range(3, 8)]


def test_update_keeps_row_ids(spark, tmp_path):
    tbl = _mk_v3(spark, tmp_path, "il5", [(i, f"v{i}") for i in range(5)])
    update_iceberg_native(spark, {
        "path": tbl,
        "where": [{"key": "id", "op": "=", "value": 2}],
        "set": {"v": "'UPDATED'"},
    })
    got = sorted(
        (r["id"], r["v"], r["_row_id"])
        for r in read_iceberg_native(
            spark, {"path": tbl, "withRowIds": True}
        ).collect()
    )
    # the updated ROW keeps its id (iceberg semantics: _row_id survives
    # updates; only _last_updated_sequence_number would move)
    assert got == [
        (i, "UPDATED" if i == 2 else f"v{i}", i) for i in range(5)
    ]


def test_mor_update_keeps_row_ids(spark, tmp_path):
    """A merge-on-read update deletes the old row by deletion vector and
    appends its updated copy with the row's id materialized."""
    tbl = _mk_v3(spark, tmp_path, "il5m", [(i, f"v{i}") for i in range(5)])
    out = update_iceberg_native(spark, {
        "path": tbl, "method": "mor",
        "where": [{"key": "id", "op": "=", "value": 2}],
        "set": {"v": "'UPDATED'"},
    })
    assert out["updated_rows"] == 1 and "rewritten_files" not in out
    got = sorted(
        (r["id"], r["v"], r["_row_id"])
        for r in read_iceberg_native(
            spark, {"path": tbl, "withRowIds": True}
        ).collect()
    )
    assert got == [
        (i, "UPDATED" if i == 2 else f"v{i}", i) for i in range(5)
    ]


def test_merge_survivors_keep_ids_upserts_fresh_null(spark, tmp_path):
    tbl = _mk_v3(spark, tmp_path, "il6", [(i, f"v{i}") for i in range(6)])
    batch = spark.createDataFrame(
        [(2, "TWO"), (99, "NEW")], "id long, v string"
    )
    merge_iceberg_native(spark, batch, {
        "path": tbl, "primaryKeys": ["id"], "method": "cow",
    })
    got = sorted(
        (r["id"], r["v"], r["_row_id"])
        for r in read_iceberg_native(
            spark, {"path": tbl, "withRowIds": True}
        ).collect()
    )
    # non-matched survivors keep their ids; the merged key and the new
    # key are THIS snapshot's fresh rows (merge = delete+insert)
    by_id = {g[0]: g for g in got}
    for i in (0, 1, 3, 4, 5):
        assert by_id[i] == (i, f"v{i}", i)
    assert by_id[2][1] == "TWO" and by_id[99][1] == "NEW"


def test_puffin_dv_delete_keeps_ids(spark, tmp_path):
    """A DV delete moves no rows: survivors keep first_row_id +
    position identity with zero materialization."""
    tbl = _mk_v3(spark, tmp_path, "il7", [(i, f"v{i}") for i in range(8)])
    delete_iceberg_native(spark, {
        "path": tbl, "format": "puffin",
        "where": [{"key": "id", "op": "in", "value": [1, 5]}],
    })
    assert _ids(spark, tbl) == [(i, i) for i in range(8) if i not in (1, 5)]


def test_last_updated_sequence_number(spark, tmp_path):
    """The lineage pair's second half: _last_updated_sequence_number =
    the file's data sequence for untouched rows, the UPDATE commit's
    sequence for updated rows — preserved (not bumped) through
    compaction."""
    from pipeline_spark.sinks.iceberg_native import compact_iceberg_native

    tbl = _mk_v3(spark, tmp_path, "il8", [(i, f"v{i}") for i in range(4)])
    # append at seq 2
    write_iceberg_native(
        spark.createDataFrame([(4, "e"), (5, "f")], "id long, v string")
        .coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    # update id=1 at seq 3
    update_iceberg_native(spark, {
        "path": tbl,
        "where": [{"key": "id", "op": "=", "value": 1}],
        "set": {"v": "'ONE'"},
    })
    def seqs():
        return sorted(
            (r["id"], r["_last_updated_sequence_number"])
            for r in read_iceberg_native(
                spark, {"path": tbl, "withRowIds": True}
            ).collect()
        )
    got = seqs()
    # rows 0,2,3 written at seq 1 but REWRITTEN (their file was touched
    # by the update) — unchanged rows keep 1 via materialization;
    # row 1 updated at seq 3; rows 4,5 appended at seq 2
    assert got == [(0, 1), (1, 3), (2, 1), (3, 1), (4, 2), (5, 2)]
    # a layout-only compaction must NOT bump anyone's last-updated
    compact_iceberg_native(spark, {"path": tbl, "minFilesPerGroup": 2})
    assert seqs() == got


def test_merge_upserts_get_fresh_ids(spark, tmp_path):
    """r10 review fix: COW-merge upserts take explicit first_row_id
    ranges (not permanent nulls) — survivors keep theirs, fresh rows
    get unique new ids past the old high water."""
    tbl = _mk_v3(spark, tmp_path, "il9", [(i, f"v{i}") for i in range(6)])
    merge_iceberg_native(
        spark,
        spark.createDataFrame([(2, "TWO"), (99, "NEW")], "id long, v string"),
        {"path": tbl, "primaryKeys": ["id"], "method": "cow"},
    )
    got = {
        r["id"]: r["_row_id"]
        for r in read_iceberg_native(
            spark, {"path": tbl, "withRowIds": True}
        ).collect()
    }
    # survivors keep 0..5 minus the merged key; upserts have REAL ids
    for i in (0, 1, 3, 4, 5):
        assert got[i] == i
    assert got[2] is not None and got[99] is not None
    assert got[2] >= 6 and got[99] >= 6 and got[2] != got[99]
    assert len(set(got.values())) == len(got)  # all unique


# ---------------------------------------------------------------- r11:
# INHERITANCE on read (spec §Row Lineage): a foreign v3 writer may OMIT
# per-file first_row_id (field-id 142) entirely; readers must derive it
# from the adding snapshot's first-row-id + the running record_count of
# preceding ADDED data files in manifest(-list) order.


def _strip_explicit_ids(tbl, keep=()):
    """Simulate a foreign v3 writer: null out data_file.first_row_id in
    every manifest (except paths in ``keep``), forcing the reader down
    the snapshot-inheritance path."""
    import json as _json
    import os

    from pipeline_spark.functions.avroocf import (
        read_ocf_file_with_meta,
        write_ocf_bytes,
    )
    from pipeline_spark.sources.iceberg_native import (
        _strip_scheme,
        load_table_metadata,
    )

    meta = load_table_metadata(tbl)
    manifest_paths = set()
    for snap in meta.get("snapshots") or []:
        _, mans = __import__(
            "pipeline_spark.functions.avroocf", fromlist=["read_ocf_file"]
        ).read_ocf_file(_strip_scheme(snap["manifest-list"]))
        for m in mans:
            manifest_paths.add(_strip_scheme(m["manifest_path"]))
    for mp in manifest_paths:
        schema_json, ometa, recs = read_ocf_file_with_meta(mp)
        rows = list(recs)
        for r in rows:
            df = r.get("data_file") or {}
            if df.get("first_row_id") is not None and df["file_path"] not in keep:
                df["first_row_id"] = None
        extra = {
            k: v.decode()
            for k, v in ometa.items()
            if k not in ("avro.schema", "avro.codec")
        }
        blob = write_ocf_bytes(schema_json, rows, extra_meta=extra)
        with open(mp, "wb") as fh:
            fh.write(blob)
    return meta


def test_inherited_ids_match_explicit(spark, tmp_path):
    """Stripping every explicit per-file id must not change a single
    derived _row_id — inheritance reconstructs the same assignment."""
    tbl = _mk_v3(spark, tmp_path, "il10", [(i, f"v{i}") for i in range(6)],
                 parts=2)
    write_iceberg_native(
        spark.createDataFrame([(6, "x"), (7, "y"), (8, "z")],
                              "id long, v string").coalesce(2),
        {"path": tbl, "mode": "append"},
    )
    before = _ids(spark, tbl)
    assert all(rid is not None for _, rid in before)
    _strip_explicit_ids(tbl)
    assert _ids(spark, tbl) == before


def test_inherited_multi_file_single_manifest(spark, tmp_path):
    """Several ADDED files in ONE manifest: each file's base is the
    manifest base + sum of record_count of the files before it."""
    tbl = _mk_v3(spark, tmp_path, "il11",
                 [(i, f"v{i}") for i in range(9)], parts=3)
    _strip_explicit_ids(tbl)
    got = _ids(spark, tbl)
    assert sorted(rid for _, rid in got) == list(range(9))


def test_mixed_explicit_and_omitted(spark, tmp_path):
    """A manifest mixing explicit and omitted files: explicit files
    consume from the same range, so the omitted file's derived base
    skips past them."""
    tbl = _mk_v3(spark, tmp_path, "il12",
                 [(i, f"v{i}") for i in range(9)], parts=3)
    before = _ids(spark, tbl)
    # keep the explicit id on ONE file, strip the others
    from pipeline_spark.sources.iceberg_native import plan_files
    data, _, _ = plan_files(tbl)
    keep = {sorted(d["path"] for d in data)[0]}
    _strip_explicit_ids(tbl, keep=keep)
    assert _ids(spark, tbl) == before


def test_no_snapshot_base_stays_null(spark, tmp_path):
    """Foreign v3 table whose snapshot ALSO lacks first-row-id (a
    pre-lineage v3 writer): no base to derive from — ids stay null
    rather than guessing."""
    import json as _json
    import os

    tbl = _mk_v3(spark, tmp_path, "il13", [(i, f"v{i}") for i in range(4)])
    meta = _strip_explicit_ids(tbl)
    mdir = os.path.join(tbl, "metadata")
    mfile = sorted(
        f for f in os.listdir(mdir) if f.endswith(".metadata.json")
    )[-1]
    with open(os.path.join(mdir, mfile)) as fh:
        m = _json.load(fh)
    for s in m.get("snapshots") or []:
        s.pop("first-row-id", None)
    with open(os.path.join(mdir, mfile), "w") as fh:
        _json.dump(m, fh)
    got = _ids(spark, tbl)
    assert [rid for _, rid in got] == [None] * 4


def test_inherited_ids_with_dv_delete(spark, tmp_path):
    """Inheritance composes with MOR subtraction: a puffin DV delete on
    a stripped (foreign-writer) table — survivors keep their DERIVED
    ids, deleted positions vanish."""
    tbl = _mk_v3(spark, tmp_path, "il14",
                 [(i, f"v{i}") for i in range(8)], parts=2)
    delete_iceberg_native(spark, {
        "path": tbl, "format": "puffin",
        "where": [{"key": "id", "op": "<", "value": 3}],
    })
    before = _ids(spark, tbl)
    _strip_explicit_ids(tbl)
    assert _ids(spark, tbl) == before
    assert [i for i, _ in before] == [3, 4, 5, 6, 7]
