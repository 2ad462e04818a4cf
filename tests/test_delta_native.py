"""Native Delta Lake reader/writer (no delta-spark jar).

Round-trips exercise writer→reader symmetry; the hand-built external
log test pins the reader against the public PROTOCOL.md layout
independently of our writer; checkpoint/time-travel/gate tests cover
the log-replay contract.
"""

from __future__ import annotations

import json
import os

import pytest

from pipeline_spark.sinks.delta_native import write_checkpoint, write_delta_native
from pipeline_spark.sources.delta_native import read_delta_native, replay_log


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def test_roundtrip_unpartitioned(spark, tmp_path):
    tbl = str(tmp_path / "t1")
    df = spark.range(0, 100).withColumnRenamed("id", "id")
    write_delta_native(spark, df, {"path": tbl})
    back = read_delta_native(spark, {"path": tbl})
    assert _ids(back) == list(range(100))
    # log shape: one commit with protocol + metaData + adds
    log = sorted(os.listdir(os.path.join(tbl, "_delta_log")))
    assert log == ["00000000000000000000.json"]


def test_append_and_overwrite(spark, tmp_path):
    tbl = str(tmp_path / "t2")
    write_delta_native(spark, spark.range(0, 10), {"path": tbl})
    write_delta_native(spark, spark.range(10, 20), {"path": tbl, "mode": "append"})
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(20))
    write_delta_native(spark, spark.range(50, 55), {"path": tbl, "mode": "overwrite"})
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(50, 55))
    # remove actions recorded for the overwritten files
    v2 = os.path.join(tbl, "_delta_log", "00000000000000000002.json")
    actions = [json.loads(x) for x in open(v2)]
    assert any("remove" in a for a in actions)


def test_time_travel(spark, tmp_path):
    tbl = str(tmp_path / "t3")
    write_delta_native(spark, spark.range(0, 5), {"path": tbl})
    write_delta_native(spark, spark.range(5, 9), {"path": tbl, "mode": "append"})
    assert _ids(read_delta_native(spark, {"path": tbl, "versionAsOf": 0})) == list(range(5))
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(9))
    with pytest.raises(ValueError, match="versionAsOf"):
        read_delta_native(spark, {"path": tbl, "versionAsOf": 7})


def test_partitioned_roundtrip_hive_fast_path(spark, tmp_path):
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "t4")
    df = spark.range(0, 40).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    )
    write_delta_native(spark, df, {"path": tbl, "partitionBy": ["grp"]})
    adds, meta, _p, _v = replay_log(tbl)
    assert meta["partitionColumns"] == ["grp"]
    assert all("grp=" in a["path"] for a in adds)
    assert all(a["partitionValues"]["grp"] in ("even", "odd") for a in adds)
    back = read_delta_native(spark, {"path": tbl})
    assert sorted(back.columns) == ["grp", "id"]
    evens = back.filter(F.col("grp") == "even")
    assert sorted(r["id"] for r in evens.collect()) == list(range(0, 40, 2))
    # directory pruning: the filtered scan should only touch grp=even files
    plan = evens._jdf.queryExecution().executedPlan().toString()
    assert "grp=odd" not in plan


def test_append_schema_mismatch_fails_before_staging(spark, tmp_path):
    tbl = str(tmp_path / "t5")
    write_delta_native(spark, spark.range(0, 5), {"path": tbl})
    other = spark.range(0, 5).withColumnRenamed("id", "other")
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta_native(spark, other, {"path": tbl, "mode": "append"})
    # no data directory was staged by the failed write
    assert len([d for d in os.listdir(tbl) if d.startswith("data-")]) == 1


def test_checkpoint_replay(spark, tmp_path):
    tbl = str(tmp_path / "t6")
    write_delta_native(spark, spark.range(0, 5), {"path": tbl})
    write_delta_native(spark, spark.range(5, 10), {"path": tbl, "mode": "append"})
    write_checkpoint(tbl, 1)
    log_dir = os.path.join(tbl, "_delta_log")
    assert os.path.exists(os.path.join(log_dir, "00000000000000000001.checkpoint.parquet"))
    # commits at or below the checkpoint are no longer needed
    os.unlink(os.path.join(log_dir, "00000000000000000000.json"))
    os.unlink(os.path.join(log_dir, "00000000000000000001.json"))
    write_delta_native(spark, spark.range(10, 12), {"path": tbl, "mode": "append"})
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(12))


def test_checkpoint_interval_auto(spark, tmp_path):
    tbl = str(tmp_path / "t7")
    write_delta_native(spark, spark.range(0, 2), {"path": tbl, "checkpointInterval": 2})
    for i in range(2):
        write_delta_native(
            spark, spark.range(10 * (i + 1), 10 * (i + 1) + 2),
            {"path": tbl, "mode": "append", "checkpointInterval": 2},
        )
    log_dir = os.path.join(tbl, "_delta_log")
    assert os.path.exists(os.path.join(log_dir, "_last_checkpoint"))
    assert json.load(open(os.path.join(log_dir, "_last_checkpoint")))["version"] == 2

    # every Delta commit follows the option, merge and compaction too
    from pipeline_spark.sinks.delta_native import (
        compact_delta_native,
        merge_delta_native,
    )

    merge_delta_native(
        spark, spark.createDataFrame([(10,), (99,)], "id long"),
        {"path": tbl, "primaryKeys": ["id"], "checkpointInterval": 3},
    )
    assert json.load(open(os.path.join(log_dir, "_last_checkpoint")))["version"] == 3
    compact_delta_native(spark, {"path": tbl, "checkpointInterval": 4})
    assert json.load(open(os.path.join(log_dir, "_last_checkpoint")))["version"] == 4
    assert sorted(
        r["id"] for r in read_delta_native(spark, {"path": tbl}).collect()
    ) == [0, 1, 10, 11, 20, 21, 99]


def test_reader_external_hand_built_log(spark, tmp_path):
    """A log laid out like delta-spark's own writer (files at partition
    dirs under the table root, not our data-<uuid> convention)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = tmp_path / "ext"
    (tbl / "c=red").mkdir(parents=True)
    (tbl / "c=blue").mkdir()
    pq.write_table(pa.table({"v": [1, 2]}), tbl / "c=red" / "part-0.parquet")
    pq.write_table(pa.table({"v": [3]}), tbl / "c=blue" / "part-0.parquet")
    schema = {
        "type": "struct",
        "fields": [
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            {"name": "c", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
    log = tbl / "_delta_log"
    log.mkdir()
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema), "partitionColumns": ["c"],
            "configuration": {},
        }},
        {"add": {"path": "c=red/part-0.parquet", "partitionValues": {"c": "red"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "c=blue/part-0.parquet", "partitionValues": {"c": "blue"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(log / "00000000000000000000.json", "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    back = read_delta_native(spark, {"path": str(tbl)})
    rows = sorted((r["v"], r["c"]) for r in back.collect())
    assert rows == [(1, "red"), (2, "red"), (3, "blue")]


def test_reader_non_hive_layout_literal_groups(spark, tmp_path):
    """Delta permits arbitrary relative paths with partitionValues only in
    the log — the reader must attach them as typed literals."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = tmp_path / "flat"
    tbl.mkdir()
    pq.write_table(pa.table({"v": [1, 2]}), tbl / "f1.parquet")
    pq.write_table(pa.table({"v": [3]}), tbl / "f2.parquet")
    schema = {
        "type": "struct",
        "fields": [
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            {"name": "n", "type": "integer", "nullable": True, "metadata": {}},
        ],
    }
    log = tbl / "_delta_log"
    log.mkdir()
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema), "partitionColumns": ["n"],
            "configuration": {},
        }},
        {"add": {"path": "f1.parquet", "partitionValues": {"n": "7"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "f2.parquet", "partitionValues": {"n": None},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(log / "00000000000000000000.json", "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    back = read_delta_native(spark, {"path": str(tbl)})
    assert dict(back.dtypes)["n"] == "int"
    rows = sorted(((r["v"], r["n"]) for r in back.collect()), key=str)
    assert (1, 7) in rows and (2, 7) in rows and (3, None) in rows


def test_column_mapping_missing_physical_names_raises(spark, tmp_path):
    """The remaining honest gate: columnMapping declared but fields carry
    no physicalName metadata — unresolvable against the files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = tmp_path / "gated"
    tbl.mkdir()
    pq.write_table(pa.table({"v": [1]}), tbl / "f.parquet")
    log = tbl / "_delta_log"
    log.mkdir()
    meta = {
        "id": "x", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "v", "type": "long", "nullable": True, "metadata": {}}]}),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "name"},
    }
    with open(log / "00000000000000000000.json", "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": meta},
            {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ]:
            fh.write(json.dumps(a) + "\n")
    with pytest.raises(NotImplementedError, match="physicalName"):
        read_delta_native(spark, {"path": str(tbl)})


def _write_dv_table(spark, tbl, deleted_by_file, inline_file=None):
    """Hand-build a spec-shaped DV table: two data files of ids 0-9 and
    10-19, deletion vectors per PROTOCOL.md (relative-file framing with
    CRC, optionally one inline descriptor)."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pipeline_spark.functions.deltadv import (
        make_dv_descriptor_relative,
        roaring_array_serialize,
        z85_encode,
    )

    tbl.mkdir()
    log = tbl / "_delta_log"
    log.mkdir()
    files = {"a.parquet": list(range(10)), "b.parquet": list(range(10, 20))}
    for name, ids in files.items():
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), tbl / name)
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"]}},
        {"metaData": {
            "id": "dvt", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}),
            "partitionColumns": [], "configuration": {},
        }},
    ]
    for name in files:
        add = {"path": name, "partitionValues": {}, "size": 1,
               "modificationTime": 0, "dataChange": True}
        positions = deleted_by_file.get(name)
        if positions:
            if name == inline_file:
                bitmap = roaring_array_serialize(positions)
                add["deletionVector"] = {
                    "storageType": "i",
                    "pathOrInlineDv": z85_encode(bitmap, pad=True),
                    "sizeInBytes": len(bitmap),
                    "cardinality": len(positions),
                }
            else:
                desc, target, blob = make_dv_descriptor_relative(
                    str(tbl), positions, prefix="ab")
                _os.makedirs(_os.path.dirname(target), exist_ok=True)
                with open(target, "wb") as fh:
                    fh.write(blob)
                add["deletionVector"] = desc
        actions.append({"add": add})
    with open(log / "00000000000000000000.json", "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def test_deletion_vectors_read_natively(spark, tmp_path):
    """VERDICT r4 #5: DV tables read without delta-spark — relative-file
    (z85 uuid path + size/CRC framing) and inline descriptors both
    resolve, deleted physical row positions vanish, kept rows survive."""
    tbl = tmp_path / "dv_tbl"
    # a.parquet: drop rows 0,3,9 (ids 0,3,9); b.parquet: inline DV drops
    # row 5 (id 15)
    _write_dv_table(
        spark, tbl,
        {"a.parquet": [0, 3, 9], "b.parquet": [5]},
        inline_file="b.parquet",
    )
    out = read_delta_native(spark, {"path": str(tbl)})
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [i for i in range(20) if i not in (0, 3, 9, 15)]
    # dataFilter composes with DV filtering
    hit = read_delta_native(
        spark, {"path": str(tbl),
                "dataFilter": {"key": "id", "op": "<", "value": 5}})
    assert sorted(r["id"] for r in hit.collect()) == [1, 2, 4]


def test_deletion_vector_crc_corruption_detected(spark, tmp_path):
    import glob as _glob

    tbl = tmp_path / "dv_bad"
    _write_dv_table(spark, tbl, {"a.parquet": [1]})
    (dv_path,) = _glob.glob(str(tbl / "ab" / "deletion_vector_*.bin"))
    blob = bytearray(open(dv_path, "rb").read())
    blob[-6] ^= 0xFF  # flip a bitmap byte; CRC now mismatches
    open(dv_path, "wb").write(bytes(blob))
    with pytest.raises(Exception, match="CRC|corrupt"):
        read_delta_native(spark, {"path": str(tbl)}).collect()


def test_column_mapping_name_mode_reads(spark, tmp_path):
    """VERDICT r4 #5: column-mapped tables (physical col-<uuid> names in
    the files, logical names in the schema) read natively, including a
    nested struct, partition columns and stats-based skipping on
    LOGICAL filter keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = tmp_path / "cm_tbl"
    tbl.mkdir()
    log = tbl / "_delta_log"
    log.mkdir()
    # physical names in the files
    for name, ids, part in [("p0.parquet", [1, 2], "x"), ("p1.parquet", [3, 4], "y")]:
        pq.write_table(
            pa.table({
                "col-aaa": pa.array(ids, pa.int64()),
                "col-bbb": pa.array(
                    [{"col-ccc": f"v{i}"} for i in ids],
                    pa.struct([("col-ccc", pa.string())])),
            }),
            tbl / name,
        )
    schema_json = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-aaa"}},
        {"name": "payload", "type": {"type": "struct", "fields": [
            {"name": "tag", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "col-ccc"}}]},
         "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-bbb"}},
        {"name": "part", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 4,
                      "delta.columnMapping.physicalName": "col-ddd"}},
    ]}
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "cmt", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema_json),
            "partitionColumns": ["part"],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "4"},
        }},
        {"add": {"path": "p0.parquet", "partitionValues": {"col-ddd": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({"numRecords": 2,
                                      "minValues": {"col-aaa": 1},
                                      "maxValues": {"col-aaa": 2},
                                      "nullCount": {"col-aaa": 0}})}},
        {"add": {"path": "p1.parquet", "partitionValues": {"col-ddd": "y"},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({"numRecords": 2,
                                      "minValues": {"col-aaa": 3},
                                      "maxValues": {"col-aaa": 4},
                                      "nullCount": {"col-aaa": 0}})}},
    ]
    with open(log / "00000000000000000000.json", "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")

    out = read_delta_native(spark, {"path": str(tbl)})
    assert [f.name for f in out.schema.fields] == ["id", "payload", "part"]
    rows = sorted(
        (r["id"], r["payload"]["tag"], r["part"]) for r in out.collect()
    )
    assert rows == [(1, "v1", "x"), (2, "v2", "x"), (3, "v3", "y"), (4, "v4", "y")]
    # logical-key filters: partition pruning + stats skipping still work
    part = read_delta_native(
        spark, {"path": str(tbl), "partitionFilter": {"part": "y"}})
    assert sorted(r["id"] for r in part.collect()) == [3, 4]
    skip = read_delta_native(
        spark, {"path": str(tbl),
                "dataFilter": {"key": "id", "op": "<=", "value": 2}})
    assert sorted(r["id"] for r in skip.collect()) == [1, 2]
    assert len(skip.inputFiles()) == 1  # p1 pruned via translated stats


def test_config_path_modules(spark, tmp_path):
    """delta sink + source through the config/executor path."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    tbl = str(tmp_path / "cfg")
    src = str(tmp_path / "in.parquet")
    spark.range(0, 7).write.parquet(src)
    run_pipeline(spark, parse_config(f"""
sources:
  - name: rows
    module: storage
    parameters: {{format: parquet, input: {src}}}
sinks:
  - name: w
    module: delta
    inputs: [rows]
    parameters: {{path: {tbl}}}
"""))
    outs = run_pipeline(spark, parse_config(f"""
sources:
  - name: back
    module: delta
    parameters: {{path: {tbl}}}
"""))
    assert sorted(r["id"] for r in outs["back"].collect()) == list(range(7))


def test_partition_values_needing_url_encoding(spark):
    """'%' and ':' in partition values: hive-escaped on disk, add.path
    URL-encoded in the log (PROTOCOL.md), round-trips through the reader."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        tbl = os.path.join(d, "enc")
        df = spark.createDataFrame(
            [(1, "50%"), (2, "a:b"), (3, "plain")], "id long, grp string"
        )
        write_delta_native(spark, df, {"path": tbl, "partitionBy": ["grp"]})
        adds, _m, _p, _v = replay_log(tbl)
        assert any("%25" in a["path"] for a in adds)  # '%' double-escaped
        back = read_delta_native(spark, {"path": tbl})
        rows = sorted((r["id"], r["grp"]) for r in back.collect())
        assert rows == [(1, "50%"), (2, "a:b"), (3, "plain")]


def test_commit_race_never_replaces_winner(spark, tmp_path, monkeypatch):
    """A writer that loses the version race must NOT replace the winner's
    commit file.  r7: a raced blind APPEND retries at the next version
    (both writers' rows land); a raced OVERWRITE still errors loudly —
    its removed-file set was planned under the stale snapshot."""
    import pipeline_spark.sinks.delta_native as dn

    tbl = str(tmp_path / "race")
    write_delta_native(spark, spark.range(0, 3), {"path": tbl})
    write_delta_native(spark, spark.range(3, 6), {"path": tbl, "mode": "append"})
    winner = os.path.join(tbl, "_delta_log", "00000000000000000001.json")
    before = open(winner).read()
    # this writer planned against version 0 (stale view) -> targets v1
    real_latest = dn.latest_version
    monkeypatch.setattr(dn, "latest_version", lambda log_dir: 0)
    write_delta_native(spark, spark.range(6, 9), {"path": tbl, "mode": "append"})
    monkeypatch.setattr(dn, "latest_version", real_latest)
    assert open(winner).read() == before  # winner's commit intact
    # the retried append landed at v2 with ALL rows present
    assert os.path.exists(
        os.path.join(tbl, "_delta_log", "00000000000000000002.json")
    )
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(9))
    # a stale OVERWRITE still loses loudly and replaces nothing
    monkeypatch.setattr(dn, "latest_version", lambda log_dir: 0)
    with pytest.raises(FileExistsError, match="raced"):
        write_delta_native(
            spark, spark.range(9, 12), {"path": tbl, "mode": "overwrite"}
        )
    assert open(winner).read() == before


def test_protocol_v3_requires_reader_features(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = tmp_path / "p3"
    tbl.mkdir()
    pq.write_table(pa.table({"v": [1]}), tbl / "f.parquet")
    log = tbl / "_delta_log"
    log.mkdir()
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "v", "type": "long", "nullable": True, "metadata": {}}]}),
            "partitionColumns": [], "configuration": {},
        }},
        {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    with open(log / "00000000000000000000.json", "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    with pytest.raises(ValueError, match="readerFeatures"):
        read_delta_native(spark, {"path": str(tbl)})


def test_txn_idempotent_commit(spark, tmp_path):
    tbl = str(tmp_path / "txn")
    write_delta_native(spark, spark.range(0, 5), {"path": tbl})
    write_delta_native(spark, spark.range(5, 8), {"path": tbl, "mode": "append"},
                       txn=("app1", 0))
    # replay of the same (appId, version): no-op
    write_delta_native(spark, spark.range(5, 8), {"path": tbl, "mode": "append"},
                       txn=("app1", 0))
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(8))
    # next version commits
    write_delta_native(spark, spark.range(8, 9), {"path": tbl, "mode": "append"},
                       txn=("app1", 1))
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(9))


def test_txn_markers_survive_checkpoint(spark, tmp_path):
    from pipeline_spark.sources.delta_native import replay_state

    tbl = str(tmp_path / "txncp")
    write_delta_native(spark, spark.range(0, 3), {"path": tbl})
    write_delta_native(spark, spark.range(3, 5), {"path": tbl, "mode": "append"},
                       txn=("s", 7))
    write_checkpoint(tbl, 1)
    log_dir = os.path.join(tbl, "_delta_log")
    os.unlink(os.path.join(log_dir, "00000000000000000000.json"))
    os.unlink(os.path.join(log_dir, "00000000000000000001.json"))
    _a, _m, _p, _v, txns = replay_state(tbl)
    assert txns == {"s": 7}
    # replayed batch after log cleanup: still a no-op
    write_delta_native(spark, spark.range(3, 5), {"path": tbl, "mode": "append"},
                       txn=("s", 7))
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(5))


def test_streaming_sink_appends_per_microbatch(spark, tmp_path):
    """file-stream -> delta sink: availableNow drains the backlog into
    delta commits; a second run with new files appends only the delta."""
    from pipeline_spark.registry import ModuleContext
    from pipeline_spark.sinks.delta_native import delta_sink

    src = tmp_path / "in"
    src.mkdir()
    tbl = str(tmp_path / "stream_tbl")
    spark.range(0, 10).write.parquet(str(src / "batch1"))

    def run():
        sdf = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        delta_sink(ModuleContext(
            spark=spark, name="w", params={"path": tbl}, inputs=[sdf],
            input_names=["in"],
        ))

    run()
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(10))
    spark.range(10, 15).write.parquet(str(src / "batch2"))
    run()
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(15))
    # each commit carries the stream's txn marker
    from pipeline_spark.sources.delta_native import replay_state

    _a, _m, _p, _v, txns = replay_state(tbl)
    assert len(txns) == 1 and list(txns.values())[0] >= 0


# ------------------------------------------------------ streaming source


def _drain_stream(spark, tbl, out_dir, cp, **opts):
    from pipeline_spark.sources.delta_stream import read_delta_stream_native

    sdf = read_delta_stream_native(spark, {"path": tbl, **opts})
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        return spark.read.parquet(out_dir)
    except Exception:
        return None


@pytest.mark.slow  # fast-tier deselects (r16: driver verify window)
def test_stream_initial_snapshot_then_tail(spark, tmp_path):
    tbl = str(tmp_path / "s1")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    write_delta_native(spark, spark.range(0, 5), {"path": tbl})
    write_delta_native(spark, spark.range(5, 8), {"path": tbl, "mode": "append"})
    got = _drain_stream(spark, tbl, out, cp)
    assert _ids(got) == list(range(8))  # initial snapshot covers both commits
    # append after the first drain: only the delta arrives on resume
    write_delta_native(spark, spark.range(8, 11), {"path": tbl, "mode": "append"})
    got = _drain_stream(spark, tbl, out, cp)
    assert _ids(got) == list(range(11))


@pytest.mark.slow  # fast-tier deselects (r16: driver verify window)
def test_stream_latest_skips_history(spark, tmp_path):
    tbl = str(tmp_path / "s2")
    write_delta_native(spark, spark.range(0, 5), {"path": tbl})
    got = _drain_stream(
        spark, tbl, str(tmp_path / "out"), str(tmp_path / "cp"),
        startingVersion="latest",
    )
    assert got is None or got.count() == 0  # history not replayed
    write_delta_native(spark, spark.range(5, 7), {"path": tbl, "mode": "append"})
    got = _drain_stream(
        spark, tbl, str(tmp_path / "out"), str(tmp_path / "cp"),
        startingVersion="latest",
    )
    assert _ids(got) == [5, 6]


def test_stream_partitioned_table_fills_partition_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "s3")
    df = spark.range(0, 6).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    )
    write_delta_native(spark, df, {"path": tbl, "partitionBy": ["grp"]})
    got = _drain_stream(spark, tbl, str(tmp_path / "out"), str(tmp_path / "cp"))
    rows = sorted((r["id"], r["grp"]) for r in got.collect())
    assert rows == [(i, "even" if i % 2 == 0 else "odd") for i in range(6)]


@pytest.mark.slow  # fast-tier deselects (r16: driver verify window)
def test_stream_change_commit_errors_and_skip_option(spark, tmp_path):
    tbl = str(tmp_path / "s4")
    out = str(tmp_path / "out")
    write_delta_native(spark, spark.range(0, 4), {"path": tbl})
    got = _drain_stream(spark, tbl, out, str(tmp_path / "cp"))
    assert _ids(got) == [0, 1, 2, 3]
    write_delta_native(spark, spark.range(100, 102), {"path": tbl, "mode": "overwrite"})
    with pytest.raises(Exception, match="skipChangeCommits"):
        _drain_stream(spark, tbl, out, str(tmp_path / "cp"))
    # fresh checkpoint AND fresh sink dir (a streaming parquet sink's
    # _spark_metadata is per-query): snapshot of the post-overwrite state
    got = _drain_stream(
        spark, tbl, str(tmp_path / "out_fresh"), str(tmp_path / "cp2_fresh"),
        skipChangeCommits=True,
    )
    assert _ids(got) == [100, 101]


def test_partition_filter_prunes_at_planning(spark, tmp_path):
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "pf")
    df = spark.range(0, 20).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    )
    write_delta_native(spark, df, {"path": tbl, "partitionBy": ["grp"]})
    back = read_delta_native(spark, {"path": tbl, "partitionFilter": {"grp": "even"}})
    assert sorted(r["id"] for r in back.collect()) == list(range(0, 20, 2))
    # pruning happened at the file-list level, not just the scan filter
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "grp=odd" not in plan
    with pytest.raises(ValueError, match="not partition columns"):
        read_delta_native(spark, {"path": tbl, "partitionFilter": {"nope": 1}})
    with pytest.raises(ValueError, match="matches no data files"):
        read_delta_native(spark, {"path": tbl, "partitionFilter": {"grp": "blue"}})


# --- add.stats file skipping -------------------------------------------------


def test_stats_written_and_skipping_prunes_files(spark, tmp_path):
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "stats_tbl")
    # three appends = three files with disjoint id ranges
    write_delta_native(spark, spark.range(0, 100).coalesce(1), {"path": tbl})
    write_delta_native(
        spark, spark.range(100, 200).coalesce(1), {"path": tbl, "mode": "append"}
    )
    write_delta_native(
        spark, spark.range(200, 300).coalesce(1), {"path": tbl, "mode": "append"}
    )
    adds, _m, _p, _v = replay_log(tbl)
    assert len(adds) == 3
    stats = [json.loads(a["stats"]) for a in adds if a.get("stats")]
    assert len(stats) == 3
    assert {s["numRecords"] for s in stats} == {100}
    assert all("id" in s["minValues"] and s["nullCount"]["id"] == 0 for s in stats)

    full = read_delta_native(spark, {"path": tbl})
    assert len(full.inputFiles()) == 3
    pruned = read_delta_native(
        spark, {"path": tbl, "dataFilter": {"key": "id", "op": ">=", "value": 250}}
    )
    # stats prove files 1 and 2 cannot match — only one file planned
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 50
    # the row-level filter is the semantics, not just the skip
    two = read_delta_native(
        spark,
        {"path": tbl, "dataFilter": [
            {"key": "id", "op": ">=", "value": 150},
            {"key": "id", "op": "<", "value": 160},
        ]},
    )
    assert [r["id"] for r in two.orderBy("id").collect()] == list(range(150, 160))
    assert len(two.inputFiles()) == 1

    none = read_delta_native(
        spark, {"path": tbl, "dataFilter": {"key": "id", "op": ">", "value": 9999}}
    )
    assert none.count() == 0


def test_stats_may_match_ops():
    from pipeline_spark.sources.delta_native import _stats_may_match

    add = {"stats": json.dumps({
        "numRecords": 10,
        "minValues": {"x": 5, "ts": "2024-01-01T10:00:00"},
        "maxValues": {"x": 20, "ts": "2024-01-01T12:00:00"},
        "nullCount": {"x": 0, "y": 10},
    })}
    ok = lambda f: _stats_may_match(add, [f], None)
    assert not ok({"key": "x", "op": "=", "value": 4})
    assert ok({"key": "x", "op": "=", "value": 5})
    assert not ok({"key": "x", "op": "<", "value": 5})
    assert ok({"key": "x", "op": "<=", "value": 5})
    assert not ok({"key": "x", "op": ">", "value": 20})
    assert ok({"key": "x", "op": ">=", "value": 20})
    assert not ok({"key": "x", "op": "in", "value": [1, 2, 30]})
    assert ok({"key": "x", "op": "in", "value": [1, 10]})
    # ' ' vs 'T' separators normalize before comparing
    assert ok({"key": "ts", "op": ">=", "value": "2024-01-01 11:00:00"})
    assert not ok({"key": "ts", "op": ">", "value": "2024-01-01 12:00:00"})
    # null-count pruning
    assert not ok({"key": "x", "op": "isNull"})
    assert not ok({"key": "y", "op": "isNotNull"})
    assert ok({"key": "y", "op": "isNull"})
    # unknown column / absent stats / unknown op: never prune
    assert ok({"key": "zzz", "op": "=", "value": 1})
    assert ok({"key": "x", "op": "!=", "value": 7})
    assert _stats_may_match({"stats": None}, [{"key": "x", "op": "=", "value": 1}], None)
    assert _stats_may_match({}, [{"key": "x", "op": "=", "value": 1}], None)


def test_stats_record_short_string_minmax(spark, tmp_path):
    """r8: exact short-string min/max land in add.stats (Spark's
    parquet-mr writer emits binary stats exact-or-absent, so a present
    value under the 256-char bound is safe to skip on); long strings
    stay excluded, nullCount keeps covering every column."""
    from pyspark.sql import Row

    tbl = str(tmp_path / "str_tbl")
    df = spark.createDataFrame(
        [Row(k=1, s="aaa", long_s="x" * 400), Row(k=2, s=None, long_s=None)]
    ).coalesce(1)
    write_delta_native(spark, df, {"path": tbl})
    adds, *_ = replay_log(tbl)
    st = json.loads(adds[0]["stats"])
    assert st["minValues"]["s"] == "aaa" and st["maxValues"]["s"] == "aaa"
    assert "long_s" not in st["minValues"]  # over the exactness bound
    assert st["nullCount"]["s"] == 1
    # equality filter on the string column still returns exact rows
    out = read_delta_native(
        spark, {"path": tbl, "dataFilter": {"key": "s", "op": "=", "value": "aaa"}}
    )
    assert [r["k"] for r in out.collect()] == [1]


# --- OPTIMIZE-style compaction ----------------------------------------------


def test_compact_binpacks_small_files(spark, tmp_path):
    from pipeline_spark.sinks.delta_native import compact_delta_native

    tbl = str(tmp_path / "compact_tbl")
    for i in range(6):
        write_delta_native(
            spark,
            spark.range(i * 10, (i + 1) * 10).coalesce(1),
            {"path": tbl, "mode": "append" if i else "errorifexists"},
        )
    before = read_delta_native(spark, {"path": tbl})
    assert len(before.inputFiles()) == 6
    res = compact_delta_native(spark, {"path": tbl, "targetFileBytes": 1 << 30})
    assert res["compacted_files"] == 6 and res["new_files"] == 1
    after = read_delta_native(spark, {"path": tbl})
    assert len(after.inputFiles()) == 1
    assert sorted(r["id"] for r in after.collect()) == list(range(60))
    # time travel still sees the pre-compaction layout
    old = read_delta_native(spark, {"path": tbl, "versionAsOf": 5})
    assert len(old.inputFiles()) == 6 and old.count() == 60
    # rewritten file carries fresh stats — skipping still prunes
    adds, *_ = replay_log(tbl)
    assert json.loads(adds[0]["stats"])["numRecords"] == 60
    pruned = read_delta_native(
        spark, {"path": tbl, "dataFilter": {"key": "id", "op": ">", "value": 999}}
    )
    assert pruned.count() == 0


def test_compact_partitioned_and_below_threshold(spark, tmp_path):
    from pyspark.sql import functions as F

    from pipeline_spark.sinks.delta_native import compact_delta_native

    tbl = str(tmp_path / "compact_part")
    for i in range(4):
        df = (
            spark.range(i * 10, (i + 1) * 10)
            .withColumn("grp", (F.col("id") % 2).cast("int"))
            .repartition(1)
        )
        write_delta_native(
            spark, df,
            {"path": tbl, "partitionBy": ["grp"],
             "mode": "append" if i else "errorifexists"},
        )
    res = compact_delta_native(spark, {"path": tbl, "targetFileBytes": 1 << 30})
    # 4 files per grp partition -> 1 per partition
    assert res["compacted_files"] == 8 and res["new_files"] == 2
    after = read_delta_native(spark, {"path": tbl})
    assert after.count() == 40
    assert after.groupBy("grp").count().count() == 2
    assert sorted(r["id"] for r in after.collect()) == list(range(40))
    # nothing left under threshold: second compact is a no-op
    res2 = compact_delta_native(spark, {"path": tbl, "targetFileBytes": 10})
    assert res2 == {"compacted_files": 0, "new_files": 0}


def test_vacuum_removes_unreferenced_keeps_retained(spark, tmp_path):
    import os

    from pipeline_spark.sinks.delta_native import (
        compact_delta_native,
        vacuum_delta_native,
    )

    tbl = str(tmp_path / "vac_tbl")
    for i in range(4):
        write_delta_native(
            spark, spark.range(i * 10, (i + 1) * 10).coalesce(1),
            {"path": tbl, "mode": "append" if i else "errorifexists"},
        )
    compact_delta_native(spark, {"path": tbl, "targetFileBytes": 1 << 30})

    def count_parquet():
        n = 0
        for root, dirs, files in os.walk(tbl):
            if "_delta_log" in dirs:
                dirs.remove("_delta_log")
            n += sum(f.endswith(".parquet") for f in files)
        return n

    assert count_parquet() == 5  # 4 tombstoned + 1 compacted
    dry = vacuum_delta_native(spark, {"path": tbl, "dryRun": True})
    assert dry == {"removed_files": 4, "kept_files": 1}
    assert count_parquet() == 5  # dry run touched nothing
    res = vacuum_delta_native(spark, {"path": tbl})
    assert res == {"removed_files": 4, "kept_files": 1}
    assert count_parquet() == 1
    after = read_delta_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in after.collect()) == list(range(40))


def test_vacuum_retain_versions_preserves_time_travel(spark, tmp_path):
    from pipeline_spark.sinks.delta_native import vacuum_delta_native

    tbl = str(tmp_path / "vac_tt")
    write_delta_native(spark, spark.range(0, 10).coalesce(1), {"path": tbl})
    write_delta_native(
        spark, spark.range(10, 20).coalesce(1),
        {"path": tbl, "mode": "overwrite"},
    )
    # retain both versions: the overwritten file survives
    res = vacuum_delta_native(spark, {"path": tbl, "retainVersions": 2})
    assert res["removed_files"] == 0
    assert read_delta_native(spark, {"path": tbl, "versionAsOf": 0}).count() == 10
    # retain only current: version 0's file goes
    res2 = vacuum_delta_native(spark, {"path": tbl})
    assert res2 == {"removed_files": 1, "kept_files": 1}
    assert read_delta_native(spark, {"path": tbl}).count() == 10


def test_delete_where_copy_on_write(spark, tmp_path):
    from pyspark.sql import functions as F

    from pipeline_spark.sinks.delta_native import delete_delta_native

    tbl = str(tmp_path / "del_tbl")
    # three disjoint-range files; the predicate touches only the middle one
    for i, (lo, hi) in enumerate(((0, 100), (100, 200), (200, 300))):
        write_delta_native(
            spark, spark.range(lo, hi).coalesce(1),
            {"path": tbl, "mode": "append" if i else "errorifexists"},
        )
    before_files = set(read_delta_native(spark, {"path": tbl}).inputFiles())
    res = delete_delta_native(
        spark, {"path": tbl, "where": [
            {"key": "id", "op": ">=", "value": 150},
            {"key": "id", "op": "<", "value": 160},
        ]},
    )
    assert res["deleted_rows"] == 10 and res["rewritten_files"] == 1
    after = read_delta_native(spark, {"path": tbl})
    ids = sorted(r["id"] for r in after.collect())
    assert ids == [i for i in range(300) if not (150 <= i < 160)]
    # stats-guided: the two untouched files were not rewritten
    after_files = set(after.inputFiles())
    assert len(before_files & after_files) == 2
    # no-match predicate: no commit
    res2 = delete_delta_native(
        spark, {"path": tbl, "where": {"key": "id", "op": ">", "value": 9999}}
    )
    assert res2 == {"deleted_rows": 0, "rewritten_files": 0}


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    from pyspark.sql import Row

    from pipeline_spark.sinks.delta_native import delete_delta_native

    tbl = str(tmp_path / "del_nulls")
    df = spark.createDataFrame(
        [Row(k=1, s="drop"), Row(k=2, s=None), Row(k=3, s="keep")]
    ).coalesce(1)
    write_delta_native(spark, df, {"path": tbl})
    res = delete_delta_native(
        spark, {"path": tbl, "where": {"key": "s", "op": "=", "value": "drop"}}
    )
    assert res["deleted_rows"] == 1
    rows = {r["k"]: r["s"] for r in read_delta_native(spark, {"path": tbl}).collect()}
    # the NULL row did not match the predicate — it must survive
    assert rows == {2: None, 3: "keep"}


def test_delete_where_partitioned(spark, tmp_path):
    from pyspark.sql import functions as F

    from pipeline_spark.sinks.delta_native import delete_delta_native

    tbl = str(tmp_path / "del_part")
    df = spark.range(0, 100).withColumn("grp", (F.col("id") % 2).cast("int"))
    write_delta_native(spark, df, {"path": tbl, "partitionBy": ["grp"]})
    # predicate on the partition column + a data column
    res = delete_delta_native(
        spark, {"path": tbl, "where": [
            {"key": "grp", "op": "=", "value": 1},
            {"key": "id", "op": "<", "value": 10},
        ]},
    )
    assert res["deleted_rows"] == 5  # ids 1,3,5,7,9
    after = read_delta_native(spark, {"path": tbl})
    ids = sorted(r["id"] for r in after.collect())
    assert ids == [i for i in range(100) if not (i % 2 == 1 and i < 10)]


def test_update_where_set(spark, tmp_path):
    from pyspark.sql import Row

    from pipeline_spark.sinks.delta_native import update_delta_native

    tbl = str(tmp_path / "upd_tbl")
    # two files with disjoint k ranges — stats confine the rewrite
    write_delta_native(
        spark,
        spark.createDataFrame(
            [Row(k=i, status="old", amount=float(i)) for i in range(10)]
        ).coalesce(1),
        {"path": tbl},
    )
    write_delta_native(
        spark,
        spark.createDataFrame(
            [Row(k=i, status="old", amount=float(i)) for i in range(10, 20)]
        ).coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    before = set(read_delta_native(spark, {"path": tbl}).inputFiles())
    res = update_delta_native(
        spark,
        {"path": tbl,
         "where": {"key": "k", "op": "<", "value": 3},
         "set": {"status": "'redacted'", "amount": "amount * 2"}},
    )
    assert res == {"updated_rows": 3, "rewritten_files": 1}
    after_df = read_delta_native(spark, {"path": tbl})
    rows = {r["k"]: (r["status"], r["amount"]) for r in after_df.collect()}
    assert len(rows) == 20  # UPDATE changes no row counts
    for k in range(3):
        assert rows[k] == ("redacted", float(k) * 2)
    for k in range(3, 20):
        assert rows[k] == ("old", float(k))
    # the second file was untouched
    assert len(before & set(after_df.inputFiles())) == 1
    with pytest.raises(ValueError, match="set"):
        update_delta_native(
            spark, {"path": tbl, "where": {"key": "k", "op": "=", "value": 1}}
        )
    with pytest.raises(ValueError, match="unknown columns"):
        update_delta_native(
            spark,
            {"path": tbl, "where": {"key": "k", "op": "=", "value": 1},
             "set": {"nope": "1"}},
        )


def test_update_refuses_partition_column(spark, tmp_path):
    from pyspark.sql import functions as F

    from pipeline_spark.sinks.delta_native import update_delta_native

    tbl = str(tmp_path / "upd_part_guard")
    df = spark.range(0, 20).withColumn("grp", (F.col("id") % 2).cast("int"))
    write_delta_native(spark, df, {"path": tbl, "partitionBy": ["grp"]})
    with pytest.raises(ValueError, match="partition columns"):
        update_delta_native(
            spark,
            {"path": tbl, "where": {"key": "id", "op": "<", "value": 5},
             "set": {"grp": "0"}},
        )


def test_timestamp_stats_normalized_no_tz_suffix(spark, tmp_path):
    """ADVICE r4: with TIMESTAMP_MICROS output, pyarrow surfaces footer
    min/max as tz-AWARE datetimes; stats must serialize without the
    '+00:00' suffix or an '='/'<=' filter literal equal to a file's min
    would lexicographically prune a live file."""
    import datetime as dt

    tbl = str(tmp_path / "ts_tbl")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 10, 0, 0)),
             (2, dt.datetime(2024, 1, 2, 10, 0, 0))],
            "id long, ts timestamp",
        )
        write_delta_native(spark, df.coalesce(1), {"path": tbl})
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
        else:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    adds, _m, _p, _v = replay_log(tbl)
    stats = json.loads(adds[0]["stats"])
    assert "ts" in stats["minValues"], "MICROS footers must yield ts bounds"
    assert "+" not in stats["minValues"]["ts"]
    assert not stats["minValues"]["ts"].endswith("Z")
    # the dormant bug: literal == file min must NOT prune the file
    hit = read_delta_native(
        spark,
        {"path": tbl,
         "dataFilter": {"key": "ts", "op": "=", "value": "2024-01-01 10:00:00"}},
    )
    assert hit.count() == 1


def test_stat_norm_strips_external_tz_suffix():
    """Externally-written stats may carry '+00:00'/'Z'; norm() must strip
    them so lexicographic comparison stays chronological."""
    from pipeline_spark.sources.delta_native import _coerce_stat

    v, w = _coerce_stat("2024-01-01T10:00:00+00:00", "2024-01-01 10:00:00")
    assert v == w == "2024-01-01T10:00:00"
    v, w = _coerce_stat("2024-01-01T10:00:00Z", "2024-01-01T10:00:00")
    assert v == w == "2024-01-01T10:00:00"


def test_checkpoint_preserves_stats_for_skipping(spark, tmp_path):
    """ADVICE r4: checkpoints must carry the adds' stats JSON — otherwise
    every pre-checkpoint file silently loses dataFilter skipping."""
    tbl = str(tmp_path / "cp_stats")
    write_delta_native(
        spark, spark.range(0, 100).coalesce(1),
        {"path": tbl, "checkpointInterval": 2},
    )
    for lo in (100, 200):
        write_delta_native(
            spark, spark.range(lo, lo + 100).coalesce(1),
            {"path": tbl, "mode": "append", "checkpointInterval": 2},
        )
    # interval 2 → checkpoint written at version 2; wipe the pre-checkpoint
    # JSON commits so replay MUST come from the checkpoint
    log = tmp_path / "cp_stats" / "_delta_log"
    assert (log / "00000000000000000002.checkpoint.parquet").exists()
    (log / "00000000000000000000.json").unlink()
    (log / "00000000000000000001.json").unlink()
    adds, _m, _p, _v = replay_log(tbl)
    assert len(adds) == 3
    assert all(a.get("stats") for a in adds), "checkpoint dropped stats"
    pruned = read_delta_native(
        spark, {"path": tbl, "dataFilter": {"key": "id", "op": "<", "value": 50}}
    )
    assert len(pruned.inputFiles()) == 1 and pruned.count() == 50


def test_v2_checkpoint_with_sidecars(spark, tmp_path):
    """V2 Checkpoint Table Feature: a UUID-named checkpoint whose add
    actions live in _sidecars/ parquet files replays like a classic
    checkpoint — pre-checkpoint JSON commits not needed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = str(tmp_path / "v2cp")
    write_delta_native(spark, spark.range(0, 100).coalesce(1), {"path": tbl})
    write_delta_native(
        spark, spark.range(100, 200).coalesce(1), {"path": tbl, "mode": "append"}
    )
    adds, meta, proto, _v = replay_log(tbl)
    log = tmp_path / "v2cp" / "_delta_log"

    str_map = pa.map_(pa.string(), pa.string())
    add_t = pa.struct([
        ("path", pa.string()), ("partitionValues", str_map),
        ("size", pa.int64()), ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()), ("stats", pa.string()),
    ])
    # sidecar parquet carries the adds
    side_dir = log / "_sidecars"
    side_dir.mkdir()
    side_rows = [{
        "add": {
            "path": a["path"],
            "partitionValues": sorted((a.get("partitionValues") or {}).items()),
            "size": a.get("size"), "modificationTime": a.get("modificationTime"),
            "dataChange": True, "stats": a.get("stats"),
        },
    } for a in adds]
    pq.write_table(
        pa.Table.from_pylist(side_rows, pa.schema([("add", add_t)])),
        str(side_dir / "00000000-aaaa-bbbb-cccc-000000000001.parquet"),
    )
    # v2 checkpoint file: protocol + metaData + checkpointMetadata + sidecar
    cp_rows = [
        {"metaData": {
            "id": meta.get("id"),
            "format": {"provider": "parquet", "options": []},
            "schemaString": meta["schemaString"],
            "partitionColumns": [], "configuration": [],
            "createdTime": meta.get("createdTime"),
        }},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["v2Checkpoint"],
                      "writerFeatures": ["v2Checkpoint"]}},
        {"checkpointMetadata": {"version": 1, "tags": []}},
        {"sidecar": {"path": "00000000-aaaa-bbbb-cccc-000000000001.parquet",
                     "sizeInBytes": 1, "modificationTime": 0, "tags": []}},
    ]
    cp_schema = pa.schema([
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()), ("options", str_map)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map), ("createdTime", pa.int64()),
        ])),
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ])),
        ("checkpointMetadata", pa.struct([
            ("version", pa.int64()), ("tags", str_map)])),
        ("sidecar", pa.struct([
            ("path", pa.string()), ("sizeInBytes", pa.int64()),
            ("modificationTime", pa.int64()), ("tags", str_map)])),
    ])
    full = [{**{k: None for k in cp_schema.names}, **r} for r in cp_rows]
    pq.write_table(
        pa.Table.from_pylist(full, cp_schema),
        str(log / "00000000000000000001.checkpoint.80a083e8-7026"
                  "-4e79-81be-64bd76c43a11.parquet"),
    )
    with open(log / "_last_checkpoint", "w") as fh:
        json.dump({"version": 1, "size": len(cp_rows)}, fh)
    # remove every pre-checkpoint commit: replay MUST come from v2 cp
    (log / "00000000000000000000.json").unlink()
    (log / "00000000000000000001.json").unlink()

    back = read_delta_native(spark, {"path": tbl})
    assert _ids(back) == list(range(200))
    # stats carried through the sidecar keep file skipping alive
    pruned = read_delta_native(
        spark, {"path": tbl, "dataFilter": {"key": "id", "op": "<", "value": 50}}
    )
    assert len(pruned.inputFiles()) == 1 and pruned.count() == 50
    # appends on top of the v2 checkpoint still replay
    write_delta_native(
        spark, spark.range(200, 210).coalesce(1), {"path": tbl, "mode": "append"}
    )
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(210))


def test_v2_checkpoint_json_variant(spark, tmp_path):
    """The spec also allows the v2 checkpoint itself as line-delimited
    JSON with inline adds (no sidecars)."""
    tbl = str(tmp_path / "v2cpj")
    write_delta_native(spark, spark.range(0, 30).coalesce(1), {"path": tbl})
    adds, meta, _p, _v = replay_log(tbl)
    log = tmp_path / "v2cpj" / "_delta_log"
    # overwrite in a second commit so the checkpoint is genuinely needed
    write_delta_native(
        spark, spark.range(0, 40).coalesce(1), {"path": tbl, "mode": "overwrite"}
    )
    adds, meta, _p, _v = replay_log(tbl)
    cp = log / ("00000000000000000001.checkpoint."
                "11111111-2222-3333-4444-555555555555.json")
    with open(cp, "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")
        fh.write(json.dumps({"protocol": {"minReaderVersion": 3,
                                          "minWriterVersion": 7,
                                          "readerFeatures": ["v2Checkpoint"],
                                          "writerFeatures": []}}) + "\n")
        fh.write(json.dumps({"checkpointMetadata": {"version": 1}}) + "\n")
        for a in adds:
            fh.write(json.dumps({"add": a}) + "\n")
    with open(log / "_last_checkpoint", "w") as fh:
        json.dump({"version": 1}, fh)
    (log / "00000000000000000000.json").unlink()
    (log / "00000000000000000001.json").unlink()
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(40))


def test_dv_delete_merge_on_read(spark, tmp_path):
    """DELETE WHERE method=mor: positions land in roaring-bitmap DV
    files, data files are NOT rewritten, the protocol upgrades to the
    deletionVectors feature, and the native reader applies the vectors."""
    from pipeline_spark.sinks.delta_native import delete_delta_native

    tbl = str(tmp_path / "mor_del")
    write_delta_native(spark, spark.range(0, 100).repartition(2), {"path": tbl})
    before_adds, _m, _p, _v = replay_log(tbl)
    before_paths = sorted(a["path"] for a in before_adds)

    res = delete_delta_native(
        spark,
        {"path": tbl, "method": "mor",
         "where": [{"key": "id", "op": ">=", "value": 90}]},
    )
    assert res["deleted_rows"] == 10 and res["dv_files"] >= 1
    adds, _m, proto, _v = replay_log(tbl)
    # same data files, now carrying DV descriptors
    assert sorted(a["path"] for a in adds) == before_paths
    assert any(a.get("deletionVector") for a in adds)
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    back = read_delta_native(spark, {"path": tbl})
    assert _ids(back) == list(range(90))

    # second MOR delete on an already-vectored file UNIONS positions
    res2 = delete_delta_native(
        spark,
        {"path": tbl, "deletionVectors": True,
         "where": [{"key": "id", "op": "<", "value": 5}]},
    )
    assert res2["deleted_rows"] == 5
    back2 = read_delta_native(spark, {"path": tbl})
    assert _ids(back2) == list(range(5, 90))
    # still zero data-file rewrites across both deletes
    adds2, _m, _p2, _v2 = replay_log(tbl)
    assert sorted(a["path"] for a in adds2) == before_paths


def test_dv_delete_partitioned_and_no_match(spark, tmp_path):
    from pyspark.sql import functions as F

    from pipeline_spark.sinks.delta_native import delete_delta_native

    tbl = str(tmp_path / "mor_del_part")
    df = spark.range(0, 40).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    )
    write_delta_native(spark, df, {"path": tbl, "partitionBy": ["grp"]})
    res = delete_delta_native(
        spark,
        {"path": tbl, "method": "mor",
         "where": [{"key": "grp", "op": "=", "value": "odd"},
                   {"key": "id", "op": "<", "value": 10}]},
    )
    assert res["deleted_rows"] == 5  # ids 1,3,5,7,9
    back = read_delta_native(spark, {"path": tbl})
    assert _ids(back) == [i for i in range(40) if not (i % 2 and i < 10)]
    # a predicate no stats admit: zero-action no-op, no commit
    v_before = len(list((tmp_path / "mor_del_part" / "_delta_log").glob("*.json")))
    res2 = delete_delta_native(
        spark, {"path": tbl, "method": "mor",
                "where": [{"key": "id", "op": ">", "value": 10_000}]},
    )
    assert res2 == {"deleted_rows": 0, "dv_files": 0}
    assert len(list((tmp_path / "mor_del_part" / "_delta_log").glob("*.json"))) == v_before


def test_dv_and_column_mapping_compose_on_read(spark, tmp_path):
    """A table with BOTH reader features: physical column names in the
    files AND a deletion vector on one of them — the anti-join runs on
    the physical scan, the struct cast restores logical names after."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pipeline_spark.functions.deltadv import make_dv_descriptor_relative

    tbl = tmp_path / "dv_cm"
    tbl.mkdir()
    pq.write_table(
        pa.table({"col-x": pa.array(range(10), pa.int64())}), tbl / "a.parquet"
    )
    desc, target, blob = make_dv_descriptor_relative(str(tbl), [2, 4], prefix="p")
    os.makedirs(os.path.dirname(target), exist_ok=True)
    with open(target, "wb") as fh:
        fh.write(blob)
    schema_json = {"type": "struct", "fields": [
        {"name": "doc_id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-x"}}]}
    log = tbl / "_delta_log"
    log.mkdir()
    with open(log / "00000000000000000000.json", "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors", "columnMapping"],
                          "writerFeatures": []}},
            {"metaData": {
                "id": "x", "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema_json),
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "name"}}},
            {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True,
                     "deletionVector": desc}},
        ]:
            fh.write(json.dumps(a) + "\n")
    out = read_delta_native(spark, {"path": str(tbl)})
    assert out.columns == ["doc_id"]
    assert _ids(out.withColumnRenamed("doc_id", "id")) == [0, 1, 3, 5, 6, 7, 8, 9]


def test_dv_update_merge_on_read(spark, tmp_path):
    """UPDATE WHERE SET method=mor: old positions get deletion vectors,
    ONLY the rewritten matched rows append as new files — original data
    files keep their bytes."""
    from pipeline_spark.sinks.delta_native import update_delta_native

    tbl = str(tmp_path / "mor_upd")
    write_delta_native(spark, spark.range(0, 100).repartition(2), {"path": tbl})
    before_paths = sorted(a["path"] for a in replay_log(tbl)[0])
    before_sizes = {
        a["path"]: a["size"] for a in replay_log(tbl)[0]
    }
    res = update_delta_native(
        spark,
        {"path": tbl, "method": "mor",
         "where": [{"key": "id", "op": ">=", "value": 95}],
         "set": {"id": "id + 1000"}},
    )
    assert res["updated_rows"] == 5 and res["new_files"] >= 1
    adds, _m, proto, _v = replay_log(tbl)
    # original files still present (with DVs), plus the new update files
    paths_now = sorted(a["path"] for a in adds)
    assert set(before_paths) <= set(paths_now)
    assert len(paths_now) == len(before_paths) + res["new_files"]
    for a in adds:
        if a["path"] in before_sizes:
            assert a["size"] == before_sizes[a["path"]]  # bytes untouched
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    back = read_delta_native(spark, {"path": tbl})
    assert _ids(back) == list(range(95)) + [1095, 1096, 1097, 1098, 1099]


def test_dv_update_partitioned(spark, tmp_path):
    from pyspark.sql import functions as F

    from pipeline_spark.sinks.delta_native import update_delta_native

    tbl = str(tmp_path / "mor_upd_part")
    df = spark.range(0, 20).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    )
    write_delta_native(spark, df, {"path": tbl, "partitionBy": ["grp"]})
    res = update_delta_native(
        spark,
        {"path": tbl, "deletionVectors": True,
         "where": [{"key": "grp", "op": "=", "value": "odd"},
                   {"key": "id", "op": "<", "value": 6}],
         "set": {"id": "id * 100"}},
    )
    assert res["updated_rows"] == 3  # 1, 3, 5
    back = read_delta_native(spark, {"path": tbl})
    got = sorted((r["id"], r["grp"]) for r in back.collect())
    expect = sorted(
        [(i, "even") for i in range(0, 20, 2)]
        + [(i, "odd") for i in range(1, 20, 2) if i >= 6]
        + [(100, "odd"), (300, "odd"), (500, "odd")]
    )
    assert got == expect
    with pytest.raises(ValueError, match="partition columns"):
        update_delta_native(
            spark,
            {"path": tbl, "method": "mor",
             "where": [{"key": "id", "op": "=", "value": 0}],
             "set": {"grp": "'odd'"}},
        )


def test_change_data_feed_end_to_end(spark, tmp_path):
    """CDF: inserts derive from data-changing adds, row-level DML records
    cdc files (delete / update_preimage+postimage), the reader stitches
    versions with _change_type/_commit_version."""
    from pipeline_spark.sinks.delta_native import (
        delete_delta_native,
        update_delta_native,
    )
    from pipeline_spark.sources.delta_native import read_delta_cdf

    tbl = str(tmp_path / "cdf_tbl")
    write_delta_native(
        spark, spark.range(0, 10).coalesce(1),
        {"path": tbl, "properties": {"delta.enableChangeDataFeed": True}},
    )
    write_delta_native(
        spark, spark.range(10, 15).coalesce(1), {"path": tbl, "mode": "append"}
    )
    delete_delta_native(
        spark, {"path": tbl, "where": [{"key": "id", "op": ">=", "value": 12}]}
    )
    update_delta_native(
        spark,
        {"path": tbl, "method": "mor",
         "where": [{"key": "id", "op": "=", "value": 0}],
         "set": {"id": "id + 500"}},
    )

    feed = read_delta_cdf(spark, {"path": tbl, "startingVersion": 0})
    rows = [(r["id"], r["_change_type"], r["_commit_version"])
            for r in feed.collect()]
    inserts = sorted(i for i, t, v in rows if t == "insert")
    assert inserts == list(range(15))
    # COW delete recorded exact matched rows, NOT the whole rewritten file
    deletes = sorted((i, v) for i, t, v in rows if t == "delete")
    assert deletes == [(12, 2), (13, 2), (14, 2)]
    assert sorted(i for i, t, v in rows if t == "update_preimage") == [0]
    assert sorted(i for i, t, v in rows if t == "update_postimage") == [500]
    assert all(v == 3 for i, t, v in rows if t.startswith("update"))

    # version-ranged read: only the delete commit
    feed2 = read_delta_cdf(
        spark, {"path": tbl, "startingVersion": 2, "endingVersion": 2}
    )
    assert sorted(r["id"] for r in feed2.collect()) == [12, 13, 14]
    assert {r["_change_type"] for r in feed2.collect()} == {"delete"}

    # table state is consistent with the applied changes
    back = read_delta_native(spark, {"path": tbl})
    assert _ids(back) == [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 500]


def test_change_data_feed_partitioned_and_module(spark, tmp_path):
    from pyspark.sql import functions as F

    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline
    from pipeline_spark.sinks.delta_native import delete_delta_native

    tbl = str(tmp_path / "cdf_part")
    df = spark.range(0, 12).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    )
    write_delta_native(
        spark, df,
        {"path": tbl, "partitionBy": ["grp"],
         "properties": {"delta.enableChangeDataFeed": "true"}},
    )
    delete_delta_native(
        spark,
        {"path": tbl,
         "where": [{"key": "grp", "op": "=", "value": "odd"},
                   {"key": "id", "op": "<", "value": 5}]},
    )
    outs = run_pipeline(spark, parse_config(f"""
sources:
  - name: feed
    module: delta
    parameters: {{path: {tbl}, mode: cdf, startingVersion: 1}}
"""))
    rows = [(r["id"], r["grp"], r["_change_type"]) for r in outs["feed"].collect()]
    assert sorted(rows) == [(1, "odd", "delete"), (3, "odd", "delete")]


def test_change_data_feed_requires_property(spark, tmp_path):
    from pipeline_spark.sources.delta_native import read_delta_cdf

    tbl = str(tmp_path / "no_cdf")
    write_delta_native(spark, spark.range(0, 3), {"path": tbl})
    with pytest.raises(ValueError, match="enableChangeDataFeed"):
        read_delta_cdf(spark, {"path": tbl, "startingVersion": 0})


def test_checkpoint_preserves_deletion_vectors_and_features(spark, tmp_path):
    """Review fix: a checkpoint on a DV table must carry deletionVector
    descriptors and protocol reader/writerFeatures — otherwise replay
    resurrects every mor-deleted row (or refuses the v3 protocol)."""
    from pipeline_spark.sinks.delta_native import (
        delete_delta_native,
        write_checkpoint,
    )

    tbl = str(tmp_path / "cp_dv")
    write_delta_native(spark, spark.range(0, 50).coalesce(1), {"path": tbl})
    delete_delta_native(
        spark, {"path": tbl, "method": "mor",
                "where": [{"key": "id", "op": "<", "value": 10}]},
    )
    write_checkpoint(tbl, 1)
    log = tmp_path / "cp_dv" / "_delta_log"
    (log / "00000000000000000000.json").unlink()
    (log / "00000000000000000001.json").unlink()
    with open(log / "_last_checkpoint", "w") as fh:
        json.dump({"version": 1}, fh)
    adds, _m, proto, _v = replay_log(tbl)
    assert any(a.get("deletionVector") for a in adds)
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(10, 50))


def test_mor_update_does_not_resurrect_mor_deleted_rows(spark, tmp_path):
    """Review fix: the mutate scan applies existing DVs — a mor UPDATE
    whose predicate also covers previously-deleted rows must neither
    resurrect nor over-count them."""
    from pipeline_spark.sinks.delta_native import (
        delete_delta_native,
        update_delta_native,
    )

    tbl = str(tmp_path / "mor_resurrect")
    write_delta_native(spark, spark.range(0, 20).coalesce(1), {"path": tbl})
    delete_delta_native(
        spark, {"path": tbl, "method": "mor",
                "where": [{"key": "id", "op": "=", "value": 5}]},
    )
    res = update_delta_native(
        spark,
        {"path": tbl, "method": "mor",
         "where": [{"key": "id", "op": "<", "value": 10}],
         "set": {"id": "id + 100"}},
    )
    assert res["updated_rows"] == 9  # 0-9 minus the deleted 5
    ids = _ids(read_delta_native(spark, {"path": tbl}))
    assert ids == list(range(10, 20)) + [100 + i for i in range(10) if i != 5]


def test_cow_delete_does_not_resurrect_mor_deleted_rows(spark, tmp_path):
    """Review fix: the COW rewrite re-reads candidates DV-aware, so a
    plain delete after a mor delete keeps both deletions."""
    from pipeline_spark.sinks.delta_native import delete_delta_native

    tbl = str(tmp_path / "cow_resurrect")
    write_delta_native(spark, spark.range(0, 20).coalesce(1), {"path": tbl})
    delete_delta_native(
        spark, {"path": tbl, "method": "mor",
                "where": [{"key": "id", "op": "=", "value": 5}]},
    )
    res = delete_delta_native(
        spark, {"path": tbl, "where": [{"key": "id", "op": "=", "value": 9}]}
    )
    assert res["deleted_rows"] == 1
    assert _ids(read_delta_native(spark, {"path": tbl})) == [
        i for i in range(20) if i not in (5, 9)
    ]


def test_compact_materializes_deletion_vectors(spark, tmp_path):
    """Review fix: OPTIMIZE on DV files materializes the deletes (the
    rewritten file drops vectored rows and carries no DV)."""
    from pipeline_spark.sinks.delta_native import (
        compact_delta_native,
        delete_delta_native,
    )

    tbl = str(tmp_path / "compact_dv")
    for lo in (0, 10):
        write_delta_native(
            spark, spark.range(lo, lo + 10).coalesce(1),
            {"path": tbl, "mode": "append" if lo else "create"},
        )
    delete_delta_native(
        spark, {"path": tbl, "method": "mor",
                "where": [{"key": "id", "op": "<", "value": 3}]},
    )
    res = compact_delta_native(spark, {"path": tbl, "minFilesPerGroup": 2})
    assert res["compacted_files"] == 2 and res["new_files"] == 1
    adds, _m, _p, _v = replay_log(tbl)
    assert not any(a.get("deletionVector") for a in adds)
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(3, 20))


def test_cdf_remove_branch_honors_deletion_vectors(spark, tmp_path):
    """Review fix: the CDF remove derivation reads the removed file AS OF
    the prior version — rows a DV already deleted must not appear as
    delete rows a second time."""
    from pipeline_spark.sinks.delta_native import delete_delta_native
    from pipeline_spark.sources.delta_native import read_delta_cdf

    tbl = str(tmp_path / "cdf_dv")
    write_delta_native(
        spark, spark.range(0, 10).coalesce(1),
        {"path": tbl, "properties": {"delta.enableChangeDataFeed": True}},
    )
    delete_delta_native(
        spark, {"path": tbl, "method": "mor",
                "where": [{"key": "id", "op": "<", "value": 4}]},
    )
    # overwrite removes the DV-carrying file with NO cdc actions
    write_delta_native(
        spark, spark.range(100, 103).coalesce(1),
        {"path": tbl, "mode": "overwrite"},
    )
    feed = read_delta_cdf(spark, {"path": tbl, "startingVersion": 1})
    rows = sorted(
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in feed.collect()
    )
    # v1: cdc deletes 0-3; v2: derived deletes of the LIVE remainder 4-9
    # (not 0-3 again) + inserts 100-102
    assert [(i, t) for i, t, v in rows if v == 1] == [
        (i, "delete") for i in range(4)
    ]
    v2_deletes = [(i, t) for i, t, v in rows if v == 2 and t == "delete"]
    assert v2_deletes == [(i, "delete") for i in range(4, 10)]
    assert [(i, t) for i, t, v in rows if v == 2 and t == "insert"] == [
        (i, "insert") for i in (100, 101, 102)
    ]


@pytest.mark.slow  # fast-tier deselects (r16: driver verify window)
def test_cdf_streaming_source(spark, tmp_path):
    """Streaming CDF: each micro-batch carries the change rows of newly
    committed versions (cdc files for DML, insert derivation for appends,
    DV-aware), resumable from the checkpoint."""
    from pipeline_spark.sinks.delta_native import delete_delta_native
    from pipeline_spark.sources.delta_stream import read_delta_cdf_stream_native

    tbl = str(tmp_path / "cdf_stream")
    write_delta_native(
        spark, spark.range(0, 10).coalesce(1),
        {"path": tbl, "properties": {"delta.enableChangeDataFeed": True}},
    )
    delete_delta_native(
        spark, {"path": tbl, "method": "mor",
                "where": [{"key": "id", "op": "<", "value": 3}]},
    )
    out_dir, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    def drain(**opts):
        sdf = read_delta_cdf_stream_native(spark, {"path": tbl, **opts})
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out_dir).option("checkpointLocation", cp)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(
            (r["id"], r["_change_type"], r["_commit_version"])
            for r in spark.read.parquet(out_dir).collect()
        )

    got = drain(startingVersion=0)
    assert got == sorted(
        [(i, "insert", 0) for i in range(10)]
        + [(i, "delete", 1) for i in range(3)]
    )
    # new DML after the drain: only the delta arrives on resume
    delete_delta_native(
        spark, {"path": tbl, "where": [{"key": "id", "op": "=", "value": 9}]}
    )
    got2 = drain(startingVersion=0)
    assert got2 == sorted(
        [(i, "insert", 0) for i in range(10)]
        + [(i, "delete", 1) for i in range(3)]
        + [(9, "delete", 2)]
    )


def test_cdf_streaming_requires_property(spark, tmp_path):
    from pipeline_spark.sources.delta_stream import read_delta_cdf_stream_native

    tbl = str(tmp_path / "cdf_stream_no")
    write_delta_native(spark, spark.range(0, 3), {"path": tbl})
    with pytest.raises(Exception, match="enableChangeDataFeed"):
        read_delta_cdf_stream_native(spark, {"path": tbl}).writeStream.format(
            "parquet"
        ).option("path", str(tmp_path / "o")).option(
            "checkpointLocation", str(tmp_path / "c")
        ).trigger(availableNow=True).start().awaitTermination()


def test_vacuum_preserves_change_data_and_fresh_staging(spark, tmp_path):
    """Review fixes: vacuum must not delete committed cdc files (the
    retained-range change feed still reads them) and retainSeconds
    protects an in-flight writer's staged-but-uncommitted parquet."""
    from pipeline_spark.sinks.delta_native import (
        delete_delta_native,
        vacuum_delta_native,
    )
    from pipeline_spark.sources.delta_native import read_delta_cdf

    tbl = str(tmp_path / "vac_cdf")
    write_delta_native(
        spark, spark.range(0, 20).coalesce(1),
        {"path": tbl, "properties": {"delta.enableChangeDataFeed": True}},
    )
    delete_delta_native(
        spark, {"path": tbl, "where": [{"key": "id", "op": "<", "value": 5}]}
    )
    # fake an in-flight writer: staged parquet, commit not yet linked
    staging = tmp_path / "vac_cdf" / "data-inflight" / "part-0.parquet"
    staging.parent.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"id": pa.array([999], pa.int64())}), str(staging))

    res = vacuum_delta_native(
        spark, {"path": tbl, "retainSeconds": 3600}
    )
    assert staging.exists(), "fresh staging deleted despite retainSeconds"
    # cdc files survived: the feed over retained versions still reads
    feed = read_delta_cdf(spark, {"path": tbl, "startingVersion": 1})
    assert sorted(r["id"] for r in feed.collect()) == list(range(5))
    # without the age guard the pre-delete tombstoned file IS removable
    res2 = vacuum_delta_native(spark, {"path": tbl, "retainSeconds": 0})
    assert res2["removed_files"] >= 1  # the staged + tombstoned files


def test_stream_applies_deletion_vectors_in_snapshot(spark, tmp_path):
    """Review fix: the plain delta stream's initial snapshot must not
    resurrect mor-deleted rows."""
    from pipeline_spark.sinks.delta_native import delete_delta_native

    tbl = str(tmp_path / "stream_dv")
    write_delta_native(spark, spark.range(0, 15).coalesce(1), {"path": tbl})
    delete_delta_native(
        spark, {"path": tbl, "method": "mor",
                "where": [{"key": "id", "op": "<", "value": 4}]},
    )
    got = _drain_stream(spark, tbl, str(tmp_path / "o"), str(tmp_path / "c"),
                        skipChangeCommits=True)
    assert _ids(got) == list(range(4, 15))


def test_create_mode_replayed_txn_is_noop(spark, tmp_path):
    """Review fix: a replayed streaming micro-batch with mode create must
    no-op on the txn marker, not crash-loop on FileExistsError."""
    tbl = str(tmp_path / "txn_create")
    write_delta_native(
        spark, spark.range(0, 5), {"path": tbl, "mode": "create"},
        txn=("app1", 0),
    )
    # replay of the same batch: same appId/version → silently skipped
    write_delta_native(
        spark, spark.range(0, 5), {"path": tbl, "mode": "create"},
        txn=("app1", 0),
    )
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(5))
    # a genuinely NEW create on an existing table still refuses
    with pytest.raises(FileExistsError):
        write_delta_native(
            spark, spark.range(9), {"path": tbl, "mode": "create"},
            txn=("app1", 1),
        )


def test_mutations_on_column_mapped_tables(spark, tmp_path):
    """r6 (VERDICT r5 ask #3): append / COW delete / compact on a
    column-mapped table write PHYSICAL names into the data files and keep
    the logical read intact — the r4-era refusal gates are gone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pipeline_spark.sinks.delta_native import (
        compact_delta_native,
        delete_delta_native,
    )

    tbl = tmp_path / "cm_guard"
    tbl.mkdir()
    pq.write_table(pa.table({"col-x": pa.array([1, 2], pa.int64())}),
                   tbl / "a.parquet")
    log = tbl / "_delta_log"
    log.mkdir()
    schema_json = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-x"}}]}
    with open(log / "00000000000000000000.json", "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "x", "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema_json),
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "name"}}},
            {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True,
                     "stats": json.dumps({"numRecords": 2,
                                          "minValues": {"col-x": 1},
                                          "maxValues": {"col-x": 2},
                                          "nullCount": {"col-x": 0}})}},
        ]:
            fh.write(json.dumps(a) + "\n")

    # append: new file must carry the PHYSICAL column name
    write_delta_native(
        spark, spark.range(3, 5).coalesce(1), {"path": str(tbl), "mode": "append"},
    )
    assert _ids(read_delta_native(spark, {"path": str(tbl)})) == [1, 2, 3, 4]
    new_files = [
        a["path"] for a in replay_log(str(tbl))[0] if a["path"] != "a.parquet"
    ]
    assert new_files
    import urllib.parse as _up
    for rel in new_files:
        names = pq.ParquetFile(
            os.path.join(str(tbl), _up.unquote(rel))
        ).schema_arrow.names
        assert names == ["col-x"], names
    # stats recorded under PHYSICAL names, translated for logical skipping
    new_add = [a for a in replay_log(str(tbl))[0] if a["path"] in new_files][0]
    assert "col-x" in json.loads(new_add["stats"])["minValues"]
    skip = read_delta_native(
        spark, {"path": str(tbl),
                "dataFilter": {"key": "id", "op": ">=", "value": 3}})
    assert _ids(skip) == [3, 4]
    assert len(skip.inputFiles()) == 1  # a.parquet pruned on logical key

    # copy-on-write delete on a logical key
    res = delete_delta_native(
        spark, {"path": str(tbl),
                "where": [{"key": "id", "op": "=", "value": 1}]},
    )
    assert res["deleted_rows"] == 1
    assert _ids(read_delta_native(spark, {"path": str(tbl)})) == [2, 3, 4]

    # compaction (physical-to-physical rewrite)
    res = compact_delta_native(spark, {"path": str(tbl), "minFilesPerGroup": 2})
    assert res["compacted_files"] >= 2
    assert _ids(read_delta_native(spark, {"path": str(tbl)})) == [2, 3, 4]


def test_cdf_stream_timestamps_match_batch_under_nonutc_tz(spark, tmp_path):
    """Review fix: the CDF stream yields tz-aware UTC commit instants —
    identical to the batch reader's timestamp_millis regardless of the
    session or machine timezone (naive datetimes would convert through
    time.mktime's MACHINE zone)."""
    from pipeline_spark.sources.delta_native import read_delta_cdf
    from pipeline_spark.sources.delta_stream import read_delta_cdf_stream_native

    tbl = str(tmp_path / "cdf_ts")
    write_delta_native(
        spark, spark.range(0, 5).coalesce(1),
        {"path": tbl, "properties": {"delta.enableChangeDataFeed": True}},
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        batch = {
            r["id"]: r["_commit_timestamp"]
            for r in read_delta_cdf(
                spark, {"path": tbl, "startingVersion": 0}
            ).collect()
        }
        q = (
            read_delta_cdf_stream_native(spark, {"path": tbl,
                                                 "startingVersion": 0})
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "o"))
            .option("checkpointLocation", str(tmp_path / "c"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        stream = {
            r["id"]: r["_commit_timestamp"]
            for r in spark.read.parquet(str(tmp_path / "o")).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert set(batch) == set(stream)
    assert all(
        abs((batch[k] - stream[k]).total_seconds()) < 1.0 for k in batch
    )


def test_merge_schema_append_evolves_table(spark, tmp_path):
    """mergeSchema: an append with a new column commits the union schema;
    old files null-pad on read; type changes still refuse."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "evolve")
    write_delta_native(
        spark, spark.range(0, 5).coalesce(1), {"path": tbl}
    )
    wider = spark.range(5, 8).withColumn("tag", F.lit("new")).coalesce(1)
    # without the option: refuse with the actionable hint
    with pytest.raises(ValueError, match="mergeSchema"):
        write_delta_native(spark, wider, {"path": tbl, "mode": "append"})
    write_delta_native(
        spark, wider, {"path": tbl, "mode": "append", "mergeSchema": True}
    )
    back = read_delta_native(spark, {"path": tbl})
    rows = sorted((r["id"], r["tag"]) for r in back.collect())
    assert rows == [(i, None) for i in range(5)] + [
        (i, "new") for i in range(5, 8)
    ]
    # a narrower append (missing the new column) also merges: absent
    # columns null-pad through the union schema
    write_delta_native(
        spark, spark.range(8, 9).coalesce(1),
        {"path": tbl, "mode": "append", "mergeSchema": True},
    )
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(9))
    # type change refuses even with mergeSchema
    retyped = spark.range(9, 10).withColumn("tag", F.lit(7)).coalesce(1)
    with pytest.raises(ValueError, match="type changes"):
        write_delta_native(
            spark, retyped, {"path": tbl, "mode": "append", "mergeSchema": True}
        )


# ----------------------------------------------------- column-mapping writes


def _cm_meta(tbl):
    return replay_log(str(tbl))[1]


def test_column_mapping_create_partitioned_nested_roundtrip(spark, tmp_path):
    """r6 (VERDICT r5 ask #3): creating a table with
    ``delta.columnMapping.mode=name`` assigns col-<uuid> physical names +
    field ids (recursively, nested struct included), records
    maxColumnId, writes reader-2/writer-5 protocol, and round-trips
    through the native reader — partition pruning on logical keys."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "cm_create")
    df = spark.range(0, 8).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    ).withColumn("payload", F.struct(F.col("id").cast("string").alias("tag")))
    write_delta_native(
        spark, df,
        {"path": tbl, "partitionBy": ["grp"],
         "properties": {"delta.columnMapping.mode": "name"}},
    )
    _adds, meta, proto, _v = replay_log(tbl)
    assert proto["minReaderVersion"] == 2 and proto["minWriterVersion"] == 5
    conf = meta["configuration"]
    assert conf["delta.columnMapping.mode"] == "name"
    assert int(conf["delta.columnMapping.maxColumnId"]) == 4  # id,grp,payload,tag
    fields = json.loads(meta["schemaString"])["fields"]
    phys = {
        f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
        for f in fields
    }
    assert all(v.startswith("col-") for v in phys.values())
    nested = [f for f in fields if f["name"] == "payload"][0]
    ntag = nested["type"]["fields"][0]
    assert ntag["metadata"]["delta.columnMapping.physicalName"].startswith("col-")
    # partitionValues keys in the log are PHYSICAL
    for a in _adds:
        assert set(a["partitionValues"]) == {phys["grp"]}
    back = read_delta_native(spark, {"path": tbl})
    rows = sorted((r["id"], r["grp"], r["payload"]["tag"]) for r in back.collect())
    assert rows == [
        (i, "even" if i % 2 == 0 else "odd", str(i)) for i in range(8)
    ]
    pruned = read_delta_native(
        spark, {"path": tbl, "partitionFilter": {"grp": "odd"}})
    assert sorted(r["id"] for r in pruned.collect()) == [1, 3, 5, 7]


def test_column_mapping_merge_schema_assigns_new_physical(spark, tmp_path):
    """mergeSchema on a column-mapped table: the new column gets a fresh
    physical name + id and maxColumnId bumps; old files null-pad."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "cm_evolve")
    write_delta_native(
        spark, spark.range(0, 3),
        {"path": tbl, "properties": {"delta.columnMapping.mode": "name"}},
    )
    old_max = int(_cm_meta(tbl)["configuration"]["delta.columnMapping.maxColumnId"])
    evolved = spark.range(3, 5).withColumn("tag", F.lit("x"))
    write_delta_native(
        spark, evolved, {"path": tbl, "mode": "append", "mergeSchema": True},
    )
    meta = _cm_meta(tbl)
    assert int(meta["configuration"]["delta.columnMapping.maxColumnId"]) == old_max + 1
    tag = [
        f for f in json.loads(meta["schemaString"])["fields"]
        if f["name"] == "tag"
    ][0]
    assert tag["metadata"]["delta.columnMapping.physicalName"].startswith("col-")
    back = read_delta_native(spark, {"path": tbl})
    rows = sorted((r["id"], r["tag"]) for r in back.collect())
    assert rows == [(0, None), (1, None), (2, None), (3, "x"), (4, "x")]


@pytest.mark.slow  # fast-tier deselects (r16: driver verify window)
def test_column_mapping_dv_delete_update_and_cdf(spark, tmp_path):
    """MOR deletion-vector DELETE and UPDATE on a column-mapped table:
    data files keep their bytes, cdc files carry PHYSICAL names, and the
    batch CDF reader restores logical names."""
    from pipeline_spark.sinks.delta_native import (
        delete_delta_native,
        update_delta_native,
    )
    from pipeline_spark.sources.delta_native import read_delta_cdf

    tbl = str(tmp_path / "cm_dv")
    write_delta_native(
        spark, spark.range(0, 20).coalesce(1),
        {"path": tbl,
         "properties": {"delta.columnMapping.mode": "name",
                        "delta.enableChangeDataFeed": True}},
    )
    res = delete_delta_native(
        spark, {"path": tbl, "method": "mor",
                "where": [{"key": "id", "op": "<", "value": 3}]},
    )
    assert res["deleted_rows"] == 3 and res["dv_files"] == 1
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(3, 20))
    proto = replay_log(tbl)[2]
    assert set(proto["readerFeatures"]) >= {"deletionVectors", "columnMapping"}
    res = update_delta_native(
        spark, {"path": tbl, "method": "mor",
                "where": [{"key": "id", "op": ">=", "value": 18}],
                "set": {"id": "id + 100"}},
    )
    assert res["updated_rows"] == 2
    assert _ids(read_delta_native(spark, {"path": tbl})) == (
        list(range(3, 18)) + [118, 119]
    )
    # cdc files on disk use PHYSICAL names
    import glob as _glob

    import pyarrow.parquet as _pq
    cdc_files = _glob.glob(os.path.join(tbl, "_change_data", "**", "*.parquet"),
                           recursive=True)
    assert cdc_files
    for f in cdc_files:
        names = _pq.ParquetFile(f).schema_arrow.names
        assert "_change_type" in names
        assert all(n.startswith("col-") or n == "_change_type" for n in names), names
    # batch CDF restores logical names
    changes = read_delta_cdf(spark, {"path": tbl, "startingVersion": 1})
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in changes.collect()
    )
    assert got == [
        (1, "delete", 0), (1, "delete", 1), (1, "delete", 2),
        (2, "update_postimage", 118), (2, "update_postimage", 119),
        (2, "update_preimage", 18), (2, "update_preimage", 19),
    ]


@pytest.mark.slow  # fast-tier deselects (r16: driver verify window)
def test_column_mapping_stream_and_cdf_stream(spark, tmp_path):
    """Streaming + CDF-streaming reads of a column-mapped table resolve
    physical names (nested struct included) — VERDICT r5 ask #3's last
    asymmetry."""
    from pyspark.sql import functions as F

    from pipeline_spark.sources.delta_stream import read_delta_cdf_stream_native

    tbl = str(tmp_path / "cm_stream")
    df = spark.range(0, 4).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    ).withColumn("payload", F.struct(F.col("id").cast("string").alias("tag")))
    write_delta_native(
        spark, df,
        {"path": tbl, "partitionBy": ["grp"],
         "properties": {"delta.columnMapping.mode": "name",
                        "delta.enableChangeDataFeed": True}},
    )
    got = _drain_stream(spark, tbl, str(tmp_path / "out"), str(tmp_path / "cp"))
    rows = sorted((r["id"], r["grp"], r["payload"]["tag"]) for r in got.collect())
    assert rows == [
        (i, "even" if i % 2 == 0 else "odd", str(i)) for i in range(4)
    ]
    # CDF stream from the beginning: 4 inserts
    sdf = read_delta_cdf_stream_native(
        spark, {"path": tbl, "startingVersion": 0})
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(tmp_path / "cdf_out"))
        .option("checkpointLocation", str(tmp_path / "cdf_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "cdf_out"))
    rows = sorted(
        (r["id"], r["grp"], r["payload"]["tag"], r["_change_type"])
        for r in got.collect()
    )
    assert rows == [
        (i, "even" if i % 2 == 0 else "odd", str(i), "insert") for i in range(4)
    ]


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """timestampAsOf resolves the latest version whose commit-file mtime
    <= the requested instant (delta's own source when in-commit
    timestamps are off); accepts epoch numbers and ISO strings, refuses
    pre-history AND post-latest instants (delta-spark raises on a
    timestamp after the newest commit — a typo'd future timestamp must
    not silently read current state), and is exclusive with
    versionAsOf."""
    import time as _time

    tbl = str(tmp_path / "tt")
    write_delta_native(spark, spark.range(0, 3), {"path": tbl})
    v0_commit = os.path.join(tbl, "_delta_log", "00000000000000000000.json")
    t0 = os.path.getmtime(v0_commit)
    write_delta_native(spark, spark.range(3, 6), {"path": tbl, "mode": "append"})
    v1_commit = os.path.join(tbl, "_delta_log", "00000000000000000001.json")
    # pin distinct mtimes so the boundary is deterministic
    os.utime(v1_commit, (t0 + 100, t0 + 100))

    at_v0 = read_delta_native(spark, {"path": tbl, "timestampAsOf": t0 + 50})
    assert _ids(at_v0) == [0, 1, 2]
    # exact boundary (== latest commit time) is allowed
    at_v1 = read_delta_native(spark, {"path": tbl, "timestampAsOf": t0 + 100})
    assert _ids(at_v1) == list(range(6))
    # ISO-8601 string form
    import datetime as _dt
    iso = _dt.datetime.fromtimestamp(
        t0 + 50, tz=_dt.timezone.utc
    ).isoformat()
    assert _ids(read_delta_native(spark, {"path": tbl, "timestampAsOf": iso})) == [0, 1, 2]
    with pytest.raises(ValueError, match="before the earliest"):
        read_delta_native(spark, {"path": tbl, "timestampAsOf": t0 - 1000})
    with pytest.raises(ValueError, match="after the latest commit"):
        read_delta_native(spark, {"path": tbl, "timestampAsOf": t0 + 200})
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_delta_native(
            spark, {"path": tbl, "timestampAsOf": t0, "versionAsOf": 0})


def test_in_commit_timestamps(spark, tmp_path):
    """r7 (PROTOCOL.md In-Commit Timestamps): a table created with
    delta.enableInCommitTimestamps leads every commit with a commitInfo
    carrying a strictly-increasing inCommitTimestamp; the protocol is a
    features protocol listing the writer feature; maintenance commits
    (the same ``commit``) keep the chain; and timestampAsOf resolves
    through ICT, robust to commit-file mtime changes (copies/restores)."""
    from pipeline_spark.sinks.delta_native import delete_delta_native

    tbl = str(tmp_path / "ict")
    write_delta_native(
        spark, spark.range(0, 3).coalesce(1),
        {"path": tbl,
         "properties": {"delta.enableInCommitTimestamps": True}},
    )
    log = os.path.join(tbl, "_delta_log")

    def first_action(v):
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            return json.loads(fh.readline())

    a0 = first_action(0)
    assert "commitInfo" in a0 and a0["commitInfo"]["inCommitTimestamp"] > 0
    # features protocol with the writer feature listed
    with open(os.path.join(log, "00000000000000000000.json")) as fh:
        acts = [json.loads(l) for l in fh]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minWriterVersion"] == 7
    assert "inCommitTimestamp" in proto["writerFeatures"]

    write_delta_native(
        spark, spark.range(3, 6).coalesce(1), {"path": tbl, "mode": "append"}
    )
    delete_delta_native(
        spark, {"path": tbl,
                "where": {"key": "id", "op": "=", "value": 4}})
    icts = [first_action(v)["commitInfo"]["inCommitTimestamp"]
            for v in (0, 1, 2)]
    assert icts[0] < icts[1] < icts[2]  # strictly increasing chain

    # time travel resolves by ICT even when file mtimes lie (e.g. the
    # log was copied): scramble mtimes, ask for just-after commit 1's ICT
    for v in (0, 1, 2):
        pth = os.path.join(log, f"{v:020d}.json")
        os.utime(pth, (1.0, 1.0))  # mtime says 1970 for every commit
    at = read_delta_native(
        spark, {"path": tbl, "timestampAsOf": icts[1] / 1000.0}
    )
    assert _ids(at) == list(range(6))  # commit 1 state, not 0, not 2


def test_check_constraints_enforced_on_write(spark, tmp_path):
    """delta.constraints.* table properties are writer-enforced (the
    protocol's CHECK constraint contract): a violating append stages
    nothing and never commits; NULL evaluations pass (SQL CHECK
    semantics); the violation count rides an Observation on the data
    write itself."""
    import glob as _glob

    tbl = str(tmp_path / "chk")
    write_delta_native(
        spark,
        spark.createDataFrame([(1,), (2,), (None,)], "id long"),
        {"path": tbl,
         "properties": {"delta.constraints.positive_id": "id > 0"}},
    )  # nulls pass, 1/2 pass
    assert read_delta_native(spark, {"path": tbl}).count() == 3

    with pytest.raises(ValueError, match="positive_id"):
        write_delta_native(
            spark, spark.createDataFrame([(5,), (-1,)], "id long"),
            {"path": tbl, "mode": "append"},
        )
    # nothing committed, staged files cleaned up
    assert read_delta_native(spark, {"path": tbl}).count() == 3
    from pipeline_spark.sources.delta_native import latest_version, _log_dir
    assert latest_version(_log_dir(tbl)) == 0
    staged = [
        p for p in _glob.glob(os.path.join(tbl, "data-*", "**", "*.parquet"),
                              recursive=True)
    ]
    live = {a["path"] for a in replay_log(tbl)[0]}
    assert all(os.path.relpath(p, tbl).replace(os.sep, "/") in live
               for p in staged), "violating staging files were left behind"

    # a passing append still commits
    write_delta_native(
        spark, spark.createDataFrame([(7,)], "id long"),
        {"path": tbl, "mode": "append"},
    )
    assert read_delta_native(spark, {"path": tbl}).count() == 4


def test_alter_enable_mapping_rename_drop(spark, tmp_path):
    """r6: metadata-only ALTER — upgrading an unmapped table to column
    mapping keeps every existing field's CURRENT name as its physical
    name (files already use it), after which rename and drop are one
    metaData commit with zero data motion; old data reads back under the
    new logical names."""
    from pipeline_spark.sinks.delta_native import (
        alter_delta_native,
        delete_delta_native,
    )

    tbl = str(tmp_path / "alter")
    df = spark.createDataFrame([(1, "x", 10), (2, "y", 20)], "id long, tag string, score long")
    write_delta_native(spark, df.coalesce(1), {"path": tbl})
    data_files_before = sorted(a["path"] for a in replay_log(tbl)[0])

    # rename on an unmapped table refuses with the upgrade hint
    with pytest.raises(ValueError, match="enableColumnMapping"):
        alter_delta_native(
            spark, {"path": tbl, "renameColumn": {"tag": "label"}})

    res = alter_delta_native(spark, {
        "path": tbl, "enableColumnMapping": True,
        "renameColumn": {"tag": "label"}, "dropColumn": ["score"],
    })
    assert res["column_mapping_enabled"] and res["renamed"] == {"tag": "label"}
    adds, meta, proto, _v = replay_log(tbl)
    assert proto["minReaderVersion"] == 2 and proto["minWriterVersion"] == 5
    assert meta["configuration"]["delta.columnMapping.mode"] == "name"
    # zero data motion: same files
    assert sorted(a["path"] for a in adds) == data_files_before
    fields = json.loads(meta["schemaString"])["fields"]
    by_name = {f["name"]: f for f in fields}
    assert set(by_name) == {"id", "label"}
    # upgrade invariant: physical name = pre-rename current name
    assert by_name["label"]["metadata"]["delta.columnMapping.physicalName"] == "tag"

    back = read_delta_native(spark, {"path": tbl})
    assert sorted((r["id"], r["label"]) for r in back.collect()) == [(1, "x"), (2, "y")]

    # the renamed table still appends + mutates (physical-name write path)
    write_delta_native(
        spark,
        spark.createDataFrame([(3, "z")], "id long, label string").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    delete_delta_native(
        spark, {"path": tbl, "where": [{"key": "label", "op": "=", "value": "x"}]})
    back = read_delta_native(spark, {"path": tbl})
    assert sorted((r["id"], r["label"]) for r in back.collect()) == [(2, "y"), (3, "z")]

    # guards: unknown column / partition column / target collision
    with pytest.raises(ValueError, match="unknown columns"):
        alter_delta_native(spark, {"path": tbl, "dropColumn": ["ghost"]})
    with pytest.raises(ValueError, match="already exist"):
        alter_delta_native(spark, {"path": tbl, "renameColumn": {"label": "id"}})


def test_restore_to_earlier_version(spark, tmp_path):
    """RESTORE: data AND schema roll back in one new commit (re-added
    files verbatim, since-added files removed), history is preserved so
    the restore can itself be undone; vacuumed targets error."""
    from pipeline_spark.sinks.delta_native import (
        delete_delta_native,
        restore_delta_native,
        vacuum_delta_native,
        write_delta_native,
    )

    tbl = str(tmp_path / "restore")
    write_delta_native(spark, spark.range(0, 5).coalesce(1), {"path": tbl})
    write_delta_native(spark, spark.range(5, 8).coalesce(1), {"path": tbl, "mode": "append"})
    delete_delta_native(
        spark, {"path": tbl, "where": [{"key": "id", "op": "<", "value": 2}]})
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(2, 8))

    res = restore_delta_native(spark, {"path": tbl, "versionAsOf": 1})
    assert res["restored_version"] == 1
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(8))
    # history preserved: the pre-restore state is still time-travelable
    assert _ids(read_delta_native(spark, {"path": tbl, "versionAsOf": 2})) == list(range(2, 8))
    # un-restore (restore to the version the delete created)
    restore_delta_native(spark, {"path": tbl, "versionAsOf": 2})
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(2, 8))

    # a DV table restores its deletion vectors verbatim
    tbl2 = str(tmp_path / "restore_dv")
    write_delta_native(spark, spark.range(0, 10).coalesce(1), {"path": tbl2})
    delete_delta_native(
        spark, {"path": tbl2, "method": "mor",
                "where": [{"key": "id", "op": "=", "value": 3}]})
    write_delta_native(spark, spark.range(10, 12).coalesce(1),
                       {"path": tbl2, "mode": "append"})
    restore_delta_native(spark, {"path": tbl2, "versionAsOf": 1})
    assert _ids(read_delta_native(spark, {"path": tbl2})) == [
        i for i in range(10) if i != 3
    ]

    # vacuum past the target -> restore errors actionably
    tbl3 = str(tmp_path / "restore_vac")
    write_delta_native(spark, spark.range(0, 3).coalesce(1), {"path": tbl3})
    write_delta_native(spark, spark.range(3, 6).coalesce(1),
                       {"path": tbl3, "mode": "overwrite"})
    vacuum_delta_native(spark, {"path": tbl3, "retainVersions": 1})
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        restore_delta_native(spark, {"path": tbl3, "versionAsOf": 0})


def test_compact_zorder_clusters_for_multi_column_skipping(spark, tmp_path):
    """r6: OPTIMIZE ZORDER — after z-ordering on (a, b), dataFilter
    bounds are tight on BOTH columns, so a selective filter on EITHER
    prunes most files; content is byte-identical and the commit is
    dataChange: false."""
    from pyspark.sql import functions as F

    from pipeline_spark.sinks.delta_native import compact_delta_native

    tbl = str(tmp_path / "zorder")
    n = 4096
    df = (
        spark.range(n)
        .withColumn("a", (F.col("id") * 2654435761 % 10007) % 1000)
        .withColumn("b", (F.col("id") * 40503 % 9973) % 1000)
        .drop("id")
    )
    # land as 8 randomly-ordered files: bounds are useless before zorder
    write_delta_native(spark, df.repartition(8), {"path": tbl})
    before = read_delta_native(
        spark, {"path": tbl, "dataFilter": {"key": "b", "op": "<=", "value": 60}}
    )
    n_before = len(before.inputFiles())
    assert n_before == 8  # random layout: nothing prunes

    res = compact_delta_native(
        spark,
        {"path": tbl, "zOrderBy": ["a", "b"], "targetFileBytes": 4096},
    )
    assert res["compacted_files"] == 8 and res["new_files"] >= 4
    # content identical
    back = read_delta_native(spark, {"path": tbl})
    assert back.count() == n
    assert back.groupBy().sum("a", "b").collect() == (
        spark.createDataFrame(df.collect(), df.schema).groupBy().sum("a", "b").collect()
    )
    # skipping now prunes on BOTH dimensions
    for col in ("a", "b"):
        pruned = read_delta_native(
            spark,
            {"path": tbl, "dataFilter": {"key": col, "op": "<=", "value": 60}},
        )
        assert len(pruned.inputFiles()) < res["new_files"], col
        assert pruned.count() == df.where(F.col(col) <= 60).count()
    # the commit is dataChange: false (log-tailing consumers skip it)
    import os as _os
    last = sorted(
        _os.listdir(_os.path.join(tbl, "_delta_log"))
    )[-1]
    with open(_os.path.join(tbl, "_delta_log", last)) as fh:
        for line in fh:
            act = json.loads(line)
            if "add" in act:
                assert act["add"]["dataChange"] is False
            if "remove" in act:
                assert act["remove"]["dataChange"] is False


def test_delta_history(spark, tmp_path):
    """DESCRIBE HISTORY: one row per commit, newest first, operations and
    parameters recorded from commitInfo."""
    from pipeline_spark.sinks.delta_native import delete_delta_native
    from pipeline_spark.sources.delta_native import read_delta_history

    tbl = str(tmp_path / "hist")
    write_delta_native(spark, spark.range(0, 5).coalesce(1), {"path": tbl})
    write_delta_native(spark, spark.range(5, 8).coalesce(1), {"path": tbl, "mode": "append"})
    delete_delta_native(
        spark, {"path": tbl, "where": [{"key": "id", "op": "<", "value": 2}]})
    hist = read_delta_history(spark, {"path": tbl}).collect()
    assert [r["version"] for r in hist] == [2, 1, 0]
    assert [r["operation"] for r in hist] == ["DELETE", "WRITE", "WRITE"]
    assert "id" in json.loads(hist[0]["operation_parameters"])["predicate"]
    assert all(r["timestamp"] is not None for r in hist)


def test_append_only_tables_refuse_mutations(spark, tmp_path):
    """delta.appendOnly=true is writer-enforced: overwrite / DELETE /
    UPDATE / RESTORE refuse, appends still land."""
    from pipeline_spark.sinks.delta_native import (
        delete_delta_native,
        restore_delta_native,
        update_delta_native,
    )

    tbl = str(tmp_path / "ao")
    write_delta_native(
        spark, spark.range(0, 4).coalesce(1),
        {"path": tbl, "properties": {"delta.appendOnly": True}},
    )
    write_delta_native(spark, spark.range(4, 6).coalesce(1),
                       {"path": tbl, "mode": "append"})
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(6))
    with pytest.raises(ValueError, match="appendOnly"):
        write_delta_native(spark, spark.range(9).coalesce(1),
                           {"path": tbl, "mode": "overwrite"})
    with pytest.raises(ValueError, match="appendOnly"):
        delete_delta_native(
            spark, {"path": tbl, "where": [{"key": "id", "op": "=", "value": 1}]})
    with pytest.raises(ValueError, match="appendOnly"):
        delete_delta_native(
            spark, {"path": tbl, "method": "mor",
                    "where": [{"key": "id", "op": "=", "value": 1}]})
    with pytest.raises(ValueError, match="appendOnly"):
        update_delta_native(
            spark, {"path": tbl, "set": {"id": "id + 1"},
                    "where": [{"key": "id", "op": "=", "value": 1}]})
    with pytest.raises(ValueError, match="appendOnly"):
        restore_delta_native(spark, {"path": tbl, "versionAsOf": 0})
    assert _ids(read_delta_native(spark, {"path": tbl})) == list(range(6))


def test_replace_where_partition_reload(spark, tmp_path):
    """r6: replaceWhere — predicate-scoped atomic overwrite. A partition
    reload removes only that partition's files (untouched partitions
    keep their exact files), incoming rows must satisfy the predicate,
    and a partially-matching file rewrites its survivor rows in the SAME
    commit."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "rw")
    df = spark.range(0, 20).withColumn(
        "grp", F.when(F.col("id") < 10, "a").otherwise("b")
    )
    write_delta_native(spark, df, {"path": tbl, "partitionBy": ["grp"]})
    before = {
        a["path"] for a in replay_log(tbl)[0]
        if a["partitionValues"].get("grp") == "b"
    }

    # reload partition a with new data
    fresh = spark.range(100, 105).withColumn("grp", F.lit("a"))
    write_delta_native(
        spark, fresh,
        {"path": tbl, "mode": "overwrite", "partitionBy": ["grp"],
         "replaceWhere": {"key": "grp", "op": "=", "value": "a"}},
    )
    back = read_delta_native(spark, {"path": tbl})
    got = sorted((r["id"], r["grp"]) for r in back.collect())
    assert got == [(i, "b") for i in range(10, 20)] + [
        (i, "a") for i in range(100, 105)
    ]
    # untouched partition kept its EXACT files
    after = {
        a["path"] for a in replay_log(tbl)[0]
        if a["partitionValues"].get("grp") == "b"
    }
    assert after == before
    # one commit did it all
    from pipeline_spark.sources.delta_native import _log_dir, latest_version
    assert latest_version(_log_dir(tbl)) == 1

    # incoming rows violating the predicate refuse, nothing committed
    with pytest.raises(ValueError, match="replaceWhere violation"):
        write_delta_native(
            spark, spark.range(5).withColumn("grp", F.lit("b")),
            {"path": tbl, "mode": "overwrite", "partitionBy": ["grp"],
             "replaceWhere": {"key": "grp", "op": "=", "value": "a"}},
        )
    assert latest_version(_log_dir(tbl)) == 1

    # non-partition predicate: partial files rewrite survivors
    tbl2 = str(tmp_path / "rw2")
    write_delta_native(spark, spark.range(0, 10).coalesce(1), {"path": tbl2})
    write_delta_native(
        spark,
        spark.createDataFrame([(3,), (4,)], "id long").coalesce(1),
        {"path": tbl2, "mode": "overwrite",
         "replaceWhere": [{"key": "id", "op": ">=", "value": 3},
                          {"key": "id", "op": "<", "value": 5}]},
    )
    assert _ids(read_delta_native(spark, {"path": tbl2})) == list(range(10))
    # replaceWhere without overwrite refuses
    with pytest.raises(ValueError, match="mode: overwrite"):
        write_delta_native(
            spark, spark.range(3), {"path": tbl2, "mode": "append",
                                    "replaceWhere": {"key": "id", "op": "<", "value": 1}},
        )
    # r7 (advisor): the FIRST write of a table enforces the predicate on
    # incoming rows too — delta-spark always validates, existence only
    # changes what gets removed
    tbl3 = str(tmp_path / "rw3")
    with pytest.raises(ValueError, match="replaceWhere violation"):
        write_delta_native(
            spark, spark.range(0, 10),
            {"path": tbl3, "mode": "overwrite",
             "replaceWhere": {"key": "id", "op": "<", "value": 5}},
        )
    assert not os.path.exists(os.path.join(tbl3, "_delta_log"))
    # conforming first write with replaceWhere succeeds
    write_delta_native(
        spark, spark.range(0, 5),
        {"path": tbl3, "mode": "overwrite",
         "replaceWhere": {"key": "id", "op": "<", "value": 5}},
    )
    assert _ids(read_delta_native(spark, {"path": tbl3})) == list(range(5))


def test_concurrent_append_retries_next_version(spark, tmp_path, monkeypatch):
    """r7 (VERDICT r6 ask #8): multi-writer appends — when another writer
    claims our target version between log read and commit, the blind
    append re-validates against the interleaved commit and retries at
    the next version; BOTH writers' rows land, nothing is lost."""
    import os as _os

    tbl = str(tmp_path / "mw")
    write_delta_native(spark, spark.range(0, 5).coalesce(1), {"path": tbl})

    real_link = _os.link
    state = {"injected": False}

    def racing_link(src, dst, *a, **kw):
        if not state["injected"] and dst.endswith("00000000000000000001.json"):
            state["injected"] = True
            # the interleaved writer lands version 1 FIRST (this nested
            # write uses real_link because injected is now True)
            write_delta_native(
                spark, spark.range(100, 103).coalesce(1),
                {"path": tbl, "mode": "append"},
            )
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(_os, "link", racing_link)
    write_delta_native(
        spark, spark.range(10, 13).coalesce(1), {"path": tbl, "mode": "append"}
    )
    monkeypatch.setattr(_os, "link", real_link)
    assert state["injected"]
    from pipeline_spark.sources.delta_native import _log_dir, latest_version
    assert latest_version(_log_dir(tbl)) == 2  # lost v1, retried at v2
    assert _ids(read_delta_native(spark, {"path": tbl})) == (
        list(range(0, 5)) + list(range(10, 13)) + list(range(100, 103))
    )
    # no orphaned tmp files in the log
    assert not [
        n for n in os.listdir(os.path.join(tbl, "_delta_log"))
        if n.endswith(".tmp")
    ]

    # a raced OVERWRITE must NOT auto-retry: its removed-file set was
    # planned under the old snapshot — it errors for the caller to re-plan
    state2 = {"injected": False}

    def racing_link2(src, dst, *a, **kw):
        if not state2["injected"] and dst.endswith("00000000000000000003.json"):
            state2["injected"] = True
            write_delta_native(
                spark, spark.range(200, 202).coalesce(1),
                {"path": tbl, "mode": "append"},
            )
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(_os, "link", racing_link2)
    with pytest.raises(FileExistsError, match="concurrent commit"):
        write_delta_native(
            spark, spark.range(50, 52).coalesce(1),
            {"path": tbl, "mode": "overwrite"},
        )


def test_partitioned_append_across_commits_reads(spark, tmp_path):
    """Regression (r6): partitioned files spread across SEVERAL commit
    dirs have a non-partition dir between basePath and the partition
    segments — Spark's inference rejects that layout, so the reader must
    take the literal-group path; partition filters still prune."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "multi_commit_part")
    df1 = spark.range(0, 6).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "even").otherwise("odd"))
    df2 = spark.range(6, 10).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "even").otherwise("odd"))
    write_delta_native(spark, df1, {"path": tbl, "partitionBy": ["grp"]})
    write_delta_native(spark, df2, {"path": tbl, "mode": "append",
                                    "partitionBy": ["grp"]})
    back = read_delta_native(spark, {"path": tbl})
    rows = sorted((r["id"], r["grp"]) for r in back.collect())
    assert rows == [
        (i, "even" if i % 2 == 0 else "odd") for i in range(10)
    ]
    pruned = read_delta_native(
        spark, {"path": tbl, "partitionFilter": {"grp": "odd"}})
    assert sorted(r["id"] for r in pruned.collect()) == [1, 3, 5, 7, 9]


def test_v2_checkpoint_write(spark, tmp_path):
    """r7: v2 checkpoint WRITE symmetry — a table created with
    delta.checkpointPolicy=v2 (protocol carries the v2Checkpoint
    reader+writer feature) checkpoints as a UUID-named top file whose
    add state lives in _delta_log/_sidecars/ parquet shards; replay off
    the checkpoint alone reproduces the table, and the top file stays
    constant-size (sidecars shard by sidecarActionCount)."""
    import glob

    tbl = str(tmp_path / "v2cpw")
    props = {
        "delta.checkpointPolicy": "v2",
        # 1-action sidecars: multiple shards even at test scale
        "delta.checkpoint.sidecarActionCount": "1",
    }
    write_delta_native(
        spark, spark.range(0, 50).coalesce(1),
        {"path": tbl, "properties": props, "checkpointInterval": 2},
    )
    proto = replay_log(tbl)[2]
    assert "v2Checkpoint" in (proto.get("readerFeatures") or [])
    assert "v2Checkpoint" in (proto.get("writerFeatures") or [])
    for lo in (50, 100, 150):
        write_delta_native(
            spark, spark.range(lo, lo + 50).coalesce(1),
            {"path": tbl, "mode": "append", "checkpointInterval": 2},
        )
    log = os.path.join(tbl, "_delta_log")
    assert not glob.glob(os.path.join(log, "*.checkpoint.parquet"))
    tops = glob.glob(os.path.join(log, "*.checkpoint.*.parquet"))
    assert tops, "no v2 checkpoint written at the interval"
    sidecars = glob.glob(os.path.join(log, "_sidecars", "*.parquet"))
    # version-2 checkpoint has 3 add actions -> 3 one-action sidecars
    assert len(sidecars) >= 3
    hint = json.loads(open(os.path.join(log, "_last_checkpoint")).read())
    assert hint["checkpointPolicy"] == "v2"

    # replay must work from the checkpoint ALONE: drop the JSON commits
    # at and below it (what a cleaned-up 100 TB log looks like)
    for v in range(hint["version"] + 1):
        p = os.path.join(log, f"{v:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    back = read_delta_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in back.collect()) == list(range(200))

    # the guard: policy=v2 on a table whose protocol lacks the feature
    tbl2 = str(tmp_path / "v2cpw_bad")
    write_delta_native(spark, spark.range(3).coalesce(1), {"path": tbl2})
    meta_path = sorted(
        glob.glob(os.path.join(tbl2, "_delta_log", "*.json")))[0]
    lines = [json.loads(ln) for ln in open(meta_path)]
    for ln in lines:
        if "metaData" in ln:
            ln["metaData"]["configuration"] = {
                "delta.checkpointPolicy": "v2"}
    with open(meta_path, "w") as fh:
        for ln in lines:
            fh.write(json.dumps(ln) + "\n")
    with pytest.raises(ValueError, match="v2Checkpoint reader feature"):
        write_checkpoint(tbl2, 0)


def test_multipart_checkpoint_write(spark, tmp_path):
    """r7: multi-part classic checkpoint write — delta.checkpoint.partSize
    shards the actions across <v>.checkpoint.<i>.<n>.parquet parts with a
    'parts' hint; replay consolidates all parts (pre-checkpoint commits
    deleted to prove it)."""
    import glob

    tbl = str(tmp_path / "mpcp")
    props = {"delta.checkpoint.partSize": "3"}
    write_delta_native(
        spark, spark.range(0, 40).repartition(4),
        {"path": tbl, "properties": props, "checkpointInterval": 1},
    )
    write_delta_native(
        spark, spark.range(40, 80).repartition(4),
        {"path": tbl, "mode": "append", "checkpointInterval": 1},
    )
    log = os.path.join(tbl, "_delta_log")
    parts = glob.glob(os.path.join(log, "*.checkpoint.*.*.parquet"))
    assert len(parts) >= 2, parts
    assert not glob.glob(os.path.join(log, "*.checkpoint.parquet"))
    hint = json.loads(open(os.path.join(log, "_last_checkpoint")).read())
    assert hint["parts"] == len(parts)
    for v in range(hint["version"] + 1):
        p = os.path.join(log, f"{v:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    back = read_delta_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in back.collect()) == list(range(80))


def test_delta_liquid_clustering(spark, tmp_path):
    """r7 (PROTOCOL.md: Clustered Table + Domain Metadata): clusterBy at
    create records the column list under the delta.clustering domain
    (clustering + domainMetadata writer features), every write clusters
    its files via sortWithinPartitions, paramless appends inherit, a
    conflicting clusterBy refuses, the domain survives checkpoints (log
    cleaned below), and OPTIMIZE re-clusters on the table's own columns
    with no zOrderBy param."""
    import glob

    import pyarrow.parquet as pq

    from pipeline_spark.sinks.delta_native import compact_delta_native
    from pipeline_spark.sources.delta_native import replay_domains

    tbl = str(tmp_path / "liquid")
    df1 = spark.createDataFrame(
        [((i * 37) % 100, i) for i in range(200)], "k long, v long"
    ).repartition(2)
    write_delta_native(
        spark, df1, {"path": tbl, "clusterBy": ["k"],
                     "checkpointInterval": 1},
    )
    proto = replay_log(tbl)[2]
    assert {"clustering", "domainMetadata"} <= set(
        proto.get("writerFeatures") or [])
    doms = replay_domains(tbl)
    assert json.loads(doms["delta.clustering"]["configuration"]) == {
        "clusteringColumns": [["k"]]}

    def _files_sorted(pattern):
        for f in glob.glob(pattern, recursive=True):
            ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
            assert ks == sorted(ks), f

    _files_sorted(os.path.join(tbl, "data-*", "**", "*.parquet"))

    # paramless append inherits the clustering columns
    write_delta_native(
        spark,
        spark.createDataFrame(
            [((i * 53) % 100, i) for i in range(200)], "k long, v long"
        ).repartition(2),
        {"path": tbl, "mode": "append", "checkpointInterval": 1},
    )
    _files_sorted(os.path.join(tbl, "data-*", "**", "*.parquet"))
    with pytest.raises(ValueError, match="clusterBy"):
        write_delta_native(
            spark, df1, {"path": tbl, "mode": "append",
                         "clusterBy": ["v"]})

    # the domain survives log cleanup via the checkpoint
    log = os.path.join(tbl, "_delta_log")
    hint = json.loads(open(os.path.join(log, "_last_checkpoint")).read())
    for v in range(hint["version"] + 1):
        pth = os.path.join(log, f"{v:020d}.json")
        if os.path.exists(pth):
            os.remove(pth)
    doms = replay_domains(tbl)
    assert "delta.clustering" in doms
    assert read_delta_native(spark, {"path": tbl}).count() == 400

    # OPTIMIZE with no param re-clusters on the table's columns
    rep = compact_delta_native(
        spark, {"path": tbl, "targetFileBytes": 1 << 30})
    assert rep["new_files"] >= 1
    adds, _m, _p, _v = replay_log(tbl)
    live = [a["path"] for a in adds]
    for rel in live:
        _files_sorted(os.path.join(tbl, rel))
    assert read_delta_native(spark, {"path": tbl}).count() == 400


def test_delta_alter_cluster_by(spark, tmp_path):
    """r7: ALTER ... CLUSTER BY flips the clustering columns in one
    domainMetadata commit (existing files keep their layout); [] removes
    clustering via the domain tombstone; later appends follow the new
    list; the upgrade also works on a table created WITHOUT clustering
    (protocol gains the writer features in the same commit)."""
    import glob

    import pyarrow.parquet as pq

    from pipeline_spark.sinks.delta_native import alter_delta_native
    from pipeline_spark.sources.delta_native import replay_domains

    tbl = str(tmp_path / "alter_cl")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [((i * 37) % 100, (i * 53) % 100) for i in range(100)],
            "a long, b long",
        ).coalesce(1),
        {"path": tbl},
    )
    assert "delta.clustering" not in replay_domains(tbl)
    rep = alter_delta_native(spark, {"path": tbl, "clusterBy": ["b"]})
    assert rep["cluster_by"] == ["b"]
    proto = replay_log(tbl)[2]
    assert {"clustering", "domainMetadata"} <= set(
        proto.get("writerFeatures") or [])
    with pytest.raises(ValueError, match="not in the schema"):
        alter_delta_native(spark, {"path": tbl, "clusterBy": ["zz"]})

    before = set(glob.glob(os.path.join(tbl, "data-*", "**", "*.parquet"),
                           recursive=True))
    write_delta_native(
        spark,
        spark.createDataFrame(
            [((i * 37) % 100, (i * 53) % 100) for i in range(100)],
            "a long, b long",
        ).coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    new_files = set(glob.glob(
        os.path.join(tbl, "data-*", "**", "*.parquet"), recursive=True,
    )) - before
    for f in new_files:
        bs = pq.read_table(f, columns=["b"]).column("b").to_pylist()
        assert bs == sorted(bs), f

    # remove clustering: the domain tombstones, appends stop sorting
    rep = alter_delta_native(spark, {"path": tbl, "clusterBy": []})
    assert rep["cluster_by"] == []
    assert "delta.clustering" not in replay_domains(tbl)
    assert read_delta_native(spark, {"path": tbl}).count() == 200


def test_delta_generated_columns(spark, tmp_path):
    """r7 (PROTOCOL.md: Generated Columns): expressions live in field
    metadata (delta.generationExpression, minWriterVersion 4); a write
    missing the column COMPUTES it, a write providing it is null-safe-
    equality-enforced (violating rows abort the commit, nothing
    staged), appends inherit the expressions, and declaring new ones on
    an existing table refuses."""
    tbl = str(tmp_path / "gencol")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"2024-01-{(i % 9) + 1:02d} 10:00:00") for i in range(20)],
            "id long, ts string",
        ).coalesce(1),
        {"path": tbl,
         "generatedColumns": {"day": "substring(ts, 1, 10)"}},
    )
    _adds, meta, proto, _v = replay_log(tbl)
    assert proto["minWriterVersion"] == 4
    sj = json.loads(meta["schemaString"])
    day_f = next(f for f in sj["fields"] if f["name"] == "day")
    assert day_f["metadata"]["delta.generationExpression"] == (
        "substring(ts, 1, 10)")
    back = read_delta_native(spark, {"path": tbl})
    assert back.filter("day = '2024-01-03'").count() > 0
    assert "day" in back.columns

    # append WITHOUT the column: computed from the inherited expression
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(100, "2024-02-01 10:00:00")], "id long, ts string",
        ).coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    assert read_delta_native(spark, {"path": tbl}).filter(
        "day = '2024-02-01'").count() == 1

    # append WITH the column but a wrong value: enforced, nothing lands
    with pytest.raises(ValueError, match="generated column day"):
        write_delta_native(
            spark,
            spark.createDataFrame(
                [(101, "2024-03-01 10:00:00", "1999-12-31")],
                "id long, ts string, day string",
            ).coalesce(1),
            {"path": tbl, "mode": "append"},
        )
    assert read_delta_native(spark, {"path": tbl}).count() == 21

    # append with the column and the CORRECT value: fine
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(102, "2024-03-01 10:00:00", "2024-03-01")],
            "id long, ts string, day string",
        ).coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    assert read_delta_native(spark, {"path": tbl}).count() == 22

    # new expressions on an existing table refuse
    with pytest.raises(ValueError, match="fixed at create"):
        write_delta_native(
            spark,
            spark.createDataFrame(
                [(103, "x")], "id long, ts string").coalesce(1),
            {"path": tbl, "mode": "append",
             "generatedColumns": {"other": "id + 1"}},
        )


def test_delta_merge_cow(spark, tmp_path):
    """r7: file-scoped COW MERGE — primaryKeys + __op__ upsert/delete in
    ONE commit; only files whose key bounds admit (and data contains) an
    incoming key rewrite; untouched files never move; CDF commits carry
    delete+insert change rows; merge into a missing table creates it."""
    import glob

    from pipeline_spark.sinks.delta_native import merge_delta_native

    tbl = str(tmp_path / "merge_cow")
    # two well-separated key ranges -> two files with disjoint bounds
    for lo in (0, 1000):
        write_delta_native(
            spark,
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(50)],
                "id long, val string",
            ).coalesce(1),
            {"path": tbl, "mode": "create" if lo == 0 else "append",
             "properties": ({"delta.enableChangeDataFeed": "true"}
                            if lo == 0 else {})},
        )
    files_before = {
        a["path"] for a in replay_log(tbl)[0]
    }
    batch = spark.createDataFrame(
        [(3, "updated-3", "UPSERT"),
         (7, None, "DELETE"),
         (2000, "new-2000", "UPSERT")],
        "id long, val string, __op__ string",
    )
    rep = merge_delta_native(
        spark, batch, {"path": tbl, "primaryKeys": ["id"]})
    assert rep["merged_rows"] == 2 and rep["rewritten_files"] == 1
    adds, _m, _p, _v = replay_log(tbl)
    # the 1000-range file was out of key bounds: untouched
    assert any(a["path"] in files_before for a in adds)
    back = {r["id"]: r["val"]
            for r in read_delta_native(spark, {"path": tbl}).collect()}
    assert back[3] == "updated-3"
    assert 7 not in back
    assert back[2000] == "new-2000"
    assert back[1003] == "v1003"
    assert len(back) == 100 - 1 + 1  # 100 originals - delete + insert

    # CDF change rows for the merge commit: delete(3), delete(7),
    # insert(3'), insert(2000)
    from pipeline_spark.sources.delta_native import read_delta_cdf
    cdf = read_delta_cdf(
        spark, {"path": tbl, "startingVersion": _v, "endingVersion": _v})
    ch = sorted((r["id"], r["_change_type"]) for r in cdf.collect())
    assert ch == [(3, "delete"), (3, "insert"), (7, "delete"),
                  (2000, "insert")]

    # merge into a missing table degenerates to create (upserts only)
    tbl2 = str(tmp_path / "merge_new")
    merge_delta_native(spark, batch, {"path": tbl2, "primaryKeys": ["id"]})
    back2 = sorted(
        r["id"] for r in read_delta_native(spark, {"path": tbl2}).collect())
    assert back2 == [3, 2000]


def test_delta_merge_partitioned_cm(spark, tmp_path):
    """Merge on a partitioned, column-mapped table: physical-name files
    rewrite under logical-key matching, untouched partitions never move,
    and the upsert batch lands under its hive partition dirs."""
    from pipeline_spark.sinks.delta_native import merge_delta_native

    tbl = str(tmp_path / "merge_pcm")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b", f"v{i}") for i in range(40)],
            "id long, grp string, val string",
        ).coalesce(1),
        {"path": tbl, "partitionBy": ["grp"],
         "properties": {"delta.columnMapping.mode": "name"}},
    )
    batch = spark.createDataFrame(
        [(0, "a", "updated-0", "UPSERT"),
         (1, "b", None, "DELETE"),
         (100, "c", "new-100", "UPSERT")],
        "id long, grp string, val string, __op__ string",
    )
    rep = merge_delta_native(
        spark, batch, {"path": tbl, "primaryKeys": ["id"]})
    assert rep["merged_rows"] == 2
    back = {r["id"]: (r["grp"], r["val"]) for r in
            read_delta_native(spark, {"path": tbl}).collect()}
    assert back[0] == ("a", "updated-0")
    assert 1 not in back
    assert back[100] == ("c", "new-100")
    assert back[2] == ("a", "v2")
    assert len(back) == 40


def test_delta_merge_mor(spark, tmp_path):
    """r7: merge-on-read MERGE — matched keys tombstone into deletion
    vectors (zero data bytes move on the delete side: the original data
    files stay byte-identical), upserts append, one commit; a second
    mor merge unions positions into fresh DVs; CDF and partition-key
    variants refuse with pointers at the COW path."""
    import glob

    from pipeline_spark.sinks.delta_native import merge_delta_native

    tbl = str(tmp_path / "merge_mor")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(100)], "id long, val string"
        ).coalesce(1),
        {"path": tbl},
    )
    orig = {
        f: os.path.getsize(f)
        for f in glob.glob(os.path.join(tbl, "data-*", "**", "*.parquet"),
                           recursive=True)
    }
    batch = spark.createDataFrame(
        [(5, "updated-5", "UPSERT"), (6, None, "DELETE")],
        "id long, val string, __op__ string",
    )
    rep = merge_delta_native(
        spark, batch, {"path": tbl, "primaryKeys": ["id"],
                       "method": "mor"})
    assert rep["merged_rows"] == 2 and rep["dv_files"] == 1
    # the original data file did not move or change
    for f, sz in orig.items():
        assert os.path.getsize(f) == sz
    back = {r["id"]: r["val"]
            for r in read_delta_native(spark, {"path": tbl}).collect()}
    assert back[5] == "updated-5" and 6 not in back and len(back) == 99

    # second mor merge: positions UNION into the fresh DV
    rep = merge_delta_native(
        spark,
        spark.createDataFrame([(7, None, "DELETE")],
                              "id long, val string, __op__ string"),
        {"path": tbl, "primaryKeys": ["id"], "method": "mor"})
    assert rep["merged_rows"] == 1
    back = read_delta_native(spark, {"path": tbl})
    assert back.count() == 98
    assert back.filter("id in (5, 6, 7)").count() == 1  # only the upsert

    # gate (r8: narrowed to PARTITIONED CDF tables — unpartitioned ones
    # stage delete+insert change rows, tests/test_delta_concurrency.py)
    tbl2 = str(tmp_path / "merge_mor_cdf")
    write_delta_native(
        spark,
        spark.createDataFrame([(1, "a", "p0")],
                              "id long, val string, grp string"),
        {"path": tbl2, "partitionBy": ["grp"],
         "properties": {"delta.enableChangeDataFeed": "true"}},
    )
    with pytest.raises(NotImplementedError, match="copy-on-write"):
        merge_delta_native(
            spark,
            spark.createDataFrame([(1, "A", "p0")],
                                  "id long, val string, grp string"),
            {"path": tbl2, "primaryKeys": ["id"], "method": "mor"})


def test_delta_streaming_merge(spark, tmp_path):
    """r7: streaming CDC upsert — mode: merge on a streaming input
    merges each micro-batch by key (one Delta version per batch, txn
    markers make checkpoint replay exactly-once); a restarted stream
    over the same files is a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    tbl = str(tmp_path / "stream_merge")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "id long, val string"
        ).coalesce(1),
        {"path": tbl},
    )
    in_dir = tmp_path / "cdc_in"
    in_dir.mkdir()
    pq.write_table(pa.table({
        "id": pa.array([3, 4], pa.int64()),
        "val": pa.array(["updated-3", None]),
        "__op__": pa.array(["UPSERT", "DELETE"]),
    }), str(in_dir / "b0.parquet"))
    pq.write_table(pa.table({
        "id": pa.array([4, 100], pa.int64()),
        "val": pa.array(["resurrected-4", "new-100"]),
        "__op__": pa.array(["UPSERT", "UPSERT"]),
    }), str(in_dir / "b1.parquet"))
    ckpt = str(tmp_path / "ckpt")
    cfg = f"""
sources:
  - name: cdc
    module: storage
    parameters:
      format: parquet
      input: {in_dir}
      mode: streaming
      maxFilesPerTrigger: 1
sinks:
  - name: sink
    module: delta
    inputs: [cdc]
    parameters:
      path: {tbl}
      mode: merge
      primaryKeys: [id]
      checkpointLocation: {ckpt}
"""
    run_pipeline(spark, parse_config(cfg))
    back = {r["id"]: r["val"]
            for r in read_delta_native(spark, {"path": tbl}).collect()}
    assert back[3] == "updated-3"
    assert back[4] == "resurrected-4"  # batch order: delete then upsert
    assert back[100] == "new-100"
    assert len(back) == 21
    from pipeline_spark.sources.delta_native import latest_version
    v_after = latest_version(os.path.join(tbl, "_delta_log"))

    # restart over the same inputs: checkpoint + txn markers no-op
    run_pipeline(spark, parse_config(cfg))
    assert latest_version(os.path.join(tbl, "_delta_log")) == v_after
    assert read_delta_native(spark, {"path": tbl}).count() == 21


def test_delta_dv_special_char_partitions(spark, tmp_path):
    """r7 regression: DV deletes must apply to files under partition dirs
    with URI-special characters — _metadata.file_path percent-encodes
    them and an undecoded anti-join silently resurrected deleted rows."""
    from pipeline_spark.sinks.delta_native import delete_delta_native

    tbl = str(tmp_path / "dv_special")
    grps = ["4-NOT SPECIFIED", "a+b", "100%"]
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, grps[i % 3]) for i in range(9)], "id long, grp string"
        ).coalesce(1),
        {"path": tbl, "partitionBy": ["grp"]},
    )
    res = delete_delta_native(
        spark, {"path": tbl, "method": "mor",
                "where": [{"key": "id", "op": "<", "value": 3}]})
    assert res["deleted_rows"] == 3
    back = read_delta_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in back.collect()) == [3, 4, 5, 6, 7, 8]


def test_delta_shallow_clone(spark, tmp_path):
    """r7: SHALLOW CLONE — the clone's v0 re-adds the source's live
    files by absolute path (zero data copied), DV descriptors pin
    absolute so merge-on-read state rides along, versionAsOf clones
    history, writes to the clone never touch the source, and the
    clone's VACUUM cannot delete source files."""
    import glob

    from pipeline_spark.sinks.delta_native import (
        clone_delta_native,
        delete_delta_native,
        vacuum_delta_native,
    )

    src = str(tmp_path / "clone_src")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "id long, val string"
        ).coalesce(1),
        {"path": src},
    )
    write_delta_native(
        spark,
        spark.createDataFrame([(100, "x")], "id long, val string"),
        {"path": src, "mode": "append"},
    )
    # MOR state: a DV on the source must ride into the clone
    delete_delta_native(
        spark, {"path": src, "method": "mor",
                "where": [{"key": "id", "op": "=", "value": 7}]})

    tgt = str(tmp_path / "clone_tgt")
    rep = clone_delta_native(spark, {"path": tgt, "source": src})
    assert rep["cloned_files"] >= 2
    assert not glob.glob(os.path.join(tgt, "data-*"))  # zero data copied
    back = sorted(
        r["id"] for r in read_delta_native(spark, {"path": tgt}).collect())
    assert back == [i for i in range(20) if i != 7] + [100]

    # historical clone
    tgt0 = str(tmp_path / "clone_v0")
    clone_delta_native(
        spark, {"path": tgt0, "source": src, "versionAsOf": 0})
    assert read_delta_native(spark, {"path": tgt0}).count() == 20

    # divergence: writes to the clone never touch the source
    write_delta_native(
        spark,
        spark.createDataFrame([(999, "clone-only")], "id long, val string"),
        {"path": tgt, "mode": "append"},
    )
    assert read_delta_native(spark, {"path": tgt}).count() == 21
    assert read_delta_native(spark, {"path": src}).count() == 20

    # the clone's vacuum walks only its own directory
    n_src_files = len(glob.glob(
        os.path.join(src, "**", "*.parquet"), recursive=True))
    vacuum_delta_native(spark, {"path": tgt, "retainVersions": 1})
    assert len(glob.glob(
        os.path.join(src, "**", "*.parquet"), recursive=True)) == n_src_files
    assert read_delta_native(spark, {"path": tgt}).count() == 21
    with pytest.raises(FileExistsError):
        clone_delta_native(spark, {"path": tgt, "source": src})
