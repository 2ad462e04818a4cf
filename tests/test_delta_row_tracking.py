"""Delta row tracking (r10, PROTOCOL.md Row Tracking): stable row
identity — fresh rows derive ``_row_id`` from their add's baseRowId +
physical position; OPTIMIZE preserves ids by MATERIALIZING them into
the table's configured column names; DV deletes preserve them for free
(positions never move).  The delta twin of r9's iceberg v3 row
lineage, but rewrite-preserving."""

import json
import os

import pytest

from pipeline_spark.sinks.delta_native import (
    compact_delta_native,
    delete_delta_native,
    write_delta_native,
)
from pipeline_spark.sources.delta_native import read_delta_native

RT = {"delta.enableRowTracking": "true"}


def _ids(spark, tbl):
    return sorted(
        (r["id"], r["_row_id"], r["_row_commit_version"])
        for r in read_delta_native(
            spark, {"path": tbl, "withRowIds": True}
        ).collect()
    )


def test_fresh_row_ids_and_commit_versions(spark, tmp_path):
    tbl = str(tmp_path / "rt1")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i,) for i in range(5)], "id long"
        ).coalesce(1),
        {"path": tbl, "properties": dict(RT)},
    )
    write_delta_native(
        spark, spark.createDataFrame([(5,), (6,)], "id long").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    got = _ids(spark, tbl)
    assert [g[1] for g in got] == list(range(7))  # contiguous, no overlap
    assert [g[2] for g in got] == [0] * 5 + [1] * 2
    # protocol + domain landed
    log0 = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    acts = [json.loads(x) for x in open(log0)]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert "rowTracking" in proto["writerFeatures"]
    dom = next(a["domainMetadata"] for a in acts if "domainMetadata" in a)
    assert dom["domain"] == "delta.rowTracking"
    assert json.loads(dom["configuration"])["rowIdHighWaterMark"] == 4


def test_dv_delete_preserves_row_ids(spark, tmp_path):
    tbl = str(tmp_path / "rt2")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i,) for i in range(8)], "id long"
        ).coalesce(1),
        {"path": tbl,
         "properties": {**RT, "delta.enableDeletionVectors": "true"}},
    )
    delete_delta_native(spark, {
        "path": tbl, "method": "dv",
        "where": [{"key": "id", "op": "in", "value": [2, 5]}],
    })
    got = _ids(spark, tbl)
    # survivors keep their ORIGINAL ids — a DV moves no rows
    assert got == [(i, i, 0) for i in range(8) if i not in (2, 5)]


def test_optimize_materializes_and_preserves(spark, tmp_path):
    tbl = str(tmp_path / "rt3")
    write_delta_native(
        spark,
        spark.createDataFrame([(0,), (1,)], "id long").coalesce(1),
        {"path": tbl, "properties": dict(RT)},
    )
    write_delta_native(
        spark, spark.createDataFrame([(2,), (3,)], "id long").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    before = _ids(spark, tbl)
    out = compact_delta_native(spark, {"path": tbl, "minFilesPerGroup": 2})
    assert out["compacted_files"] == 2 and out["new_files"] == 1
    after = _ids(spark, tbl)
    assert after == before  # identity survived the rewrite
    # the ids are MATERIALIZED in the rewritten parquet under the
    # configured column name
    import pyarrow.parquet as pq

    _adds, meta, _p, _v, _t = __import__(
        "pipeline_spark.sources.delta_native", fromlist=["replay_state"]
    ).replay_state(tbl)
    mat = meta["configuration"][
        "delta.rowTracking.materializedRowIdColumnName"
    ]
    newest = max(
        (os.path.join(r, f) for r, _d, fs in os.walk(tbl) for f in fs
         if f.endswith(".parquet") and "_delta_log" not in r),
        key=os.path.getmtime,
    )
    t = pq.read_table(newest)
    assert mat in t.schema.names
    assert sorted(t.column(mat).to_pylist()) == [0, 1, 2, 3]


def test_zorder_preserves_row_ids(spark, tmp_path):
    """OPTIMIZE ZORDER BY keeps every row's id and commit version, as a
    bin-pack does, even though it reorders the rows."""
    tbl = str(tmp_path / "rt_z")
    write_delta_native(
        spark,
        spark.createDataFrame([(0, 3), (1, 2)], "id long, k long").coalesce(1),
        {"path": tbl, "properties": dict(RT)},
    )
    write_delta_native(
        spark,
        spark.createDataFrame([(2, 1), (3, 0)], "id long, k long").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    before = _ids(spark, tbl)
    assert before == [(0, 0, 0), (1, 1, 0), (2, 2, 1), (3, 3, 1)]
    out = compact_delta_native(spark, {"path": tbl, "zOrderBy": ["k"]})
    assert out["compacted_files"] == 2
    assert _ids(spark, tbl) == before


def test_optimize_then_dv_then_read(spark, tmp_path):
    """Materialized ids keep winning after later DV deletes."""
    tbl = str(tmp_path / "rt4")
    write_delta_native(
        spark, spark.createDataFrame([(0,), (1,)], "id long").coalesce(1),
        {"path": tbl,
         "properties": {**RT, "delta.enableDeletionVectors": "true"}},
    )
    write_delta_native(
        spark, spark.createDataFrame([(2,), (3,)], "id long").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    compact_delta_native(spark, {"path": tbl, "minFilesPerGroup": 2})
    delete_delta_native(spark, {
        "path": tbl, "method": "dv",
        "where": [{"key": "id", "op": "=", "value": 1}],
    })
    got = _ids(spark, tbl)
    assert [(g[0], g[1]) for g in got] == [(0, 0), (2, 2), (3, 3)]


def test_row_ids_survive_checkpoint(spark, tmp_path):
    from pipeline_spark.sinks.delta_native import write_checkpoint

    tbl = str(tmp_path / "rt5")
    write_delta_native(
        spark, spark.createDataFrame([(0,), (1,)], "id long").coalesce(1),
        {"path": tbl, "properties": dict(RT)},
    )
    write_delta_native(
        spark, spark.createDataFrame([(2,)], "id long").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    write_checkpoint(tbl, 1)
    for v in (0, 1):
        os.remove(os.path.join(tbl, "_delta_log", f"{v:020d}.json"))
    # replay from the checkpoint alone: baseRowId and the domain's high
    # watermark both survive, so reads AND the next append stay correct
    assert _ids(spark, tbl) == [(0, 0, 0), (1, 1, 0), (2, 2, 1)]
    write_delta_native(
        spark, spark.createDataFrame([(3,)], "id long").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    assert _ids(spark, tbl)[-1] == (3, 3, 2)


def test_concurrent_appends_never_overlap(spark, tmp_path, monkeypatch):
    """A racing append advances the high watermark; the loser restamps
    its baseRowIds from the FRESH domain before re-committing."""
    import pipeline_spark.sinks.delta_native as dn

    tbl = str(tmp_path / "rt6")
    write_delta_native(
        spark, spark.createDataFrame([(0,), (1,)], "id long").coalesce(1),
        {"path": tbl, "properties": dict(RT)},
    )
    real_link = os.link
    fired = {"done": False}

    def racing_link(src, dst):
        if not fired["done"] and "_delta_log" in dst:
            fired["done"] = True
            write_delta_native(
                spark,
                spark.createDataFrame([(10,), (11,)], "id long").coalesce(1),
                {"path": tbl, "mode": "append"},
            )
        return real_link(src, dst)

    monkeypatch.setattr(dn.os, "link", racing_link)
    write_delta_native(
        spark, spark.createDataFrame([(20,), (21,)], "id long").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    monkeypatch.undo()
    got = _ids(spark, tbl)
    ids = [g[1] for g in got]
    assert sorted(ids) == list(range(6))  # contiguous across the race
    assert len(set(ids)) == 6


def test_without_row_tracking_refuses(spark, tmp_path):
    tbl = str(tmp_path / "rt7")
    write_delta_native(
        spark, spark.createDataFrame([(0,)], "id long"), {"path": tbl},
    )
    with pytest.raises(ValueError, match="row-tracking"):
        read_delta_native(spark, {"path": tbl, "withRowIds": True})


def test_dml_rewrites_keep_reads_working(spark, tmp_path):
    """r10 review fix: COW DELETE/UPDATE and MERGE rewrites on a
    row-tracking table stamp fresh base ranges (the central commit
    backstop) — withRowIds reads keep working after every DML, ids stay
    unique, and the domain watermark advances."""
    import json as _json

    from pipeline_spark.sinks.delta_native import (
        merge_delta_native,
        update_delta_native,
    )
    from pipeline_spark.sources.delta_native import replay_domains

    tbl = str(tmp_path / "rtdml")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, v string"
        ).coalesce(1),
        {"path": tbl, "properties": dict(RT)},
    )
    delete_delta_native(spark, {
        "path": tbl, "where": [{"key": "id", "op": "<", "value": 2}],
    })
    got = _ids(spark, tbl)
    ids = [g[1] for g in got]
    assert len(got) == 6 and len(set(ids)) == 6  # unique, read works
    update_delta_native(spark, {
        "path": tbl,
        "where": [{"key": "id", "op": "=", "value": 5}],
        "set": {"v": "'FIVE'"},
    })
    got = _ids(spark, tbl)
    assert len(got) == 6 and len({g[1] for g in got}) == 6
    merge_delta_native(
        spark,
        spark.createDataFrame([(5, "5!"), (99, "NEW")], "id long, v string"),
        {"path": tbl, "primaryKeys": ["id"]},
    )
    got = _ids(spark, tbl)
    assert len(got) == 7 and len({g[1] for g in got}) == 7
    # the domain watermark covers every id in use
    dm = replay_domains(tbl)["delta.rowTracking"]
    hwm = _json.loads(dm["configuration"])["rowIdHighWaterMark"]
    assert hwm >= max(g[1] for g in got)


def test_cow_dml_preserves_row_identity(spark, tmp_path):
    """r10 review fix (preservation): COW DELETE keeps survivors' ids,
    COW UPDATE keeps the updated row's id and bumps only its commit
    version — materialized through the rewrite like OPTIMIZE."""
    from pipeline_spark.sinks.delta_native import update_delta_native

    tbl = str(tmp_path / "rtcow")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, v string"
        ).coalesce(1),
        {"path": tbl, "properties": dict(RT)},
    )
    delete_delta_native(spark, {
        "path": tbl, "where": [{"key": "id", "op": "<", "value": 2}],
    })
    got = _ids(spark, tbl)
    assert got == [(i, i, 0) for i in range(2, 8)]  # ids preserved
    update_delta_native(spark, {
        "path": tbl,
        "where": [{"key": "id", "op": "=", "value": 5}],
        "set": {"v": "'FIVE'"},
    })
    got = _ids(spark, tbl)
    # id 5 keeps _row_id 5 with a bumped commit version; others keep 0
    assert [(g[0], g[1]) for g in got] == [(i, i) for i in range(2, 8)]
    by_id = {g[0]: g[2] for g in got}
    assert by_id[5] == 2 and all(by_id[i] == 0 for i in (2, 3, 4, 6, 7))


def test_merge_preserves_survivor_ids(spark, tmp_path):
    """r10 review fix (preservation): non-matched rows of merged files
    keep their ids through the rewrite; the merged key and new keys are
    fresh rows (delete+insert identity) with unique new ids."""
    from pipeline_spark.sinks.delta_native import merge_delta_native

    tbl = str(tmp_path / "rtmerge")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "id long, v string"
        ).coalesce(1),
        {"path": tbl, "properties": dict(RT)},
    )
    merge_delta_native(
        spark,
        spark.createDataFrame([(2, "TWO"), (99, "NEW")], "id long, v string"),
        {"path": tbl, "primaryKeys": ["id"]},
    )
    got = {g[0]: g[1] for g in _ids(spark, tbl)}
    for i in (0, 1, 3, 4, 5):
        assert got[i] == i  # survivors preserved
    assert got[2] >= 6 and got[99] >= 6 and got[2] != got[99]
