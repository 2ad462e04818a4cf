"""Native Iceberg metadata-path reader: fixture tables are hand-built from
the PUBLIC Iceberg spec (JSON metadata + avro OCF manifests written
byte-by-byte), so the reader is validated against the format, not against
itself."""

import json
import os
import struct
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pipeline_spark.functions.avroocf import read_ocf
from pipeline_spark.sinks.iceberg_native import write_iceberg_native
from pipeline_spark.sources.iceberg_native import plan_data_files, read_iceberg_native


# ------------------------------------------------- minimal OCF writer

def _zz(v: int) -> bytes:
    u = (v << 1) ^ (v >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        out.append(b | (0x80 if u else 0))
        if not u:
            return bytes(out)


def _s(text: str) -> bytes:
    b = text.encode()
    return _zz(len(b)) + b


def write_ocf(path, schema: dict, datums: list[bytes], codec: str = "null"):
    payload = b"".join(datums)
    if codec == "deflate":
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = comp.compress(payload) + comp.flush()
    sync = b"S" * 16
    meta_entries = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    meta = _zz(len(meta_entries))
    for k, v in meta_entries.items():
        meta += _s(k) + _zz(len(v)) + v
    meta += _zz(0)
    blob = (
        b"Obj\x01" + meta + sync
        + _zz(len(datums)) + _zz(len(payload)) + payload + sync
    )
    with open(path, "wb") as fh:
        fh.write(blob)


MANIFEST_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "data_file", "type": {
            "type": "record", "name": "data_file", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
            ]}},
    ],
}

LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
    ],
}


def manifest_datum(status: int, content: int, file_path: str) -> bytes:
    return _zz(status) + _zz(content) + _s(file_path) + _s("PARQUET")


def build_table(root, codec="null"):
    """Two data files; snapshot 1 = both, snapshot 2 deletes file2."""
    (root / "data").mkdir(parents=True)
    (root / "metadata").mkdir()
    f1, f2 = str(root / "data" / "f1.parquet"), str(root / "data" / "f2.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2]), "v": pa.array(["a", "b"])}), f1)
    pq.write_table(pa.table({"id": pa.array([3]), "v": pa.array(["c"])}), f2)

    m1 = str(root / "metadata" / "m1.avro")
    write_ocf(m1, MANIFEST_SCHEMA, [
        manifest_datum(1, 0, f1), manifest_datum(1, 0, f2)
    ], codec)
    ml1 = str(root / "metadata" / "snap-1.avro")
    write_ocf(ml1, LIST_SCHEMA, [_s(m1)], codec)

    m2 = str(root / "metadata" / "m2.avro")
    write_ocf(m2, MANIFEST_SCHEMA, [
        manifest_datum(0, 0, f1), manifest_datum(2, 0, f2)  # f2 DELETED
    ], codec)
    ml2 = str(root / "metadata" / "snap-2.avro")
    write_ocf(ml2, LIST_SCHEMA, [_s(m2)], codec)

    meta = {
        "format-version": 1,
        "current-snapshot-id": 2,
        "snapshots": [
            {"snapshot-id": 1, "manifest-list": ml1},
            {"snapshot-id": 2, "manifest-list": ml2},
        ],
    }
    (root / "metadata" / "v2.metadata.json").write_text(json.dumps(meta))
    (root / "metadata" / "version-hint.text").write_text("2")
    return f1, f2


def test_ocf_roundtrip_null_and_deflate(tmp_path):
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        write_ocf(p, LIST_SCHEMA, [_s("alpha"), _s("beta")], codec)
        with open(p, "rb") as fh:
            schema, recs = read_ocf(fh.read())
        assert [r["manifest_path"] for r in recs] == ["alpha", "beta"]
        assert schema["name"] == "manifest_file"


def test_plan_follows_snapshots(tmp_path):
    root = tmp_path / "tbl"
    f1, f2 = build_table(root)
    # current snapshot (2): f2 was deleted in it
    assert plan_data_files(str(root)) == [f1]
    # time travel to snapshot 1: both files live
    assert sorted(plan_data_files(str(root), 1)) == sorted([f1, f2])
    with pytest.raises(ValueError, match="snapshot 99"):
        plan_data_files(str(root), 99)


def test_module_reads_without_jar(spark, tmp_path):
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    root = tmp_path / "tbl"
    build_table(root, codec="deflate")
    outs = run_pipeline(spark, parse_config(f"""
sources:
  - name: ice
    module: iceberg
    parameters:
      path: {root}
      snapshotId: 1
"""))
    rows = sorted((r["id"], r["v"]) for r in outs["ice"].collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    outs2 = run_pipeline(spark, parse_config(f"""
sources:
  - name: ice
    module: iceberg
    parameters: {{path: {root}}}
"""))
    assert sorted(r["id"] for r in outs2["ice"].collect()) == [1, 2]


def test_delete_files_gate(tmp_path, spark):
    root = tmp_path / "tbl_del"
    (root / "data").mkdir(parents=True)
    (root / "metadata").mkdir()
    f1 = str(root / "data" / "f1.parquet")
    pq.write_table(pa.table({"id": pa.array([1])}), f1)
    m = str(root / "metadata" / "m.avro")
    write_ocf(m, MANIFEST_SCHEMA, [
        manifest_datum(1, 0, f1),
        manifest_datum(1, 1, str(root / "data" / "del.parquet")),  # pos deletes
    ])
    ml = str(root / "metadata" / "snap.avro")
    write_ocf(ml, LIST_SCHEMA, [_s(m)])
    (root / "metadata" / "v1.metadata.json").write_text(json.dumps({
        "format-version": 2, "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "manifest-list": ml}],
    }))
    with pytest.raises(NotImplementedError, match="delete files"):
        plan_data_files(str(root))


class TestAvroNativeStorage:
    """storage avro without the jar: distributed write (one OCF per task)
    and read (binaryFile + per-file decode) round-trip typed data."""

    def test_roundtrip_types(self, spark, tmp_path):
        import datetime as dt

        from pipeline_spark.config import parse_config
        from pipeline_spark.executor import run_pipeline

        df = spark.createDataFrame(
            [
                (1, "a", 1.5, True, dt.datetime(2024, 1, 2, 3, 4, 5),
                 [1, 2], {"x": 1.0}, bytearray(b"\x00\x01"), None),
                (2, "b", -2.25, False, dt.datetime(2024, 6, 7), [], {},
                 bytearray(b""), "opt"),
            ],
            "id long, s string, d double, b boolean, ts timestamp, "
            "arr array<int>, m map<string,double>, bin binary, opt string",
        )
        out = str(tmp_path / "avro_out")
        run_pipeline(spark, parse_config(f"""
sinks:
  - name: w
    module: storage
    inputs: [src]
    parameters: {{format: avro, output: {out}}}
"""), inputs={"src": df})
        import glob as _glob

        files = _glob.glob(f"{out}/*.avro")
        assert files, "no avro files written"

        outs = run_pipeline(spark, parse_config(f"""
sources:
  - name: r
    module: storage
    parameters: {{format: avro, input: {out}}}
"""))
        got = {r["id"]: r for r in outs["r"].collect()}
        assert got[1]["s"] == "a" and got[1]["d"] == 1.5 and got[1]["b"] is True
        assert got[1]["ts"] == dt.datetime(2024, 1, 2, 3, 4, 5)
        assert list(got[1]["arr"]) == [1, 2] and dict(got[1]["m"]) == {"x": 1.0}
        assert bytes(got[1]["bin"]) == b"\x00\x01" and got[1]["opt"] is None
        assert got[2]["opt"] == "opt" and list(got[2]["arr"]) == []

    def test_read_partitions_per_file(self, spark, tmp_path):
        from pipeline_spark.config import parse_config
        from pipeline_spark.executor import run_pipeline

        out = str(tmp_path / "sharded")
        df = spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(4)
        run_pipeline(spark, parse_config(f"""
sinks:
  - name: w
    module: storage
    inputs: [src]
    parameters: {{format: avro, output: {out}}}
"""), inputs={"src": df})
        outs = run_pipeline(spark, parse_config(f"""
sources:
  - name: r
    module: storage
    parameters: {{format: avro, input: {out}}}
"""))
        rdf = outs["r"]
        assert rdf.count() == 1000
        assert rdf.agg({"v": "sum"}).collect()[0][0] == 999 * 1000


def test_avro_file_stream_native(spark, tmp_path):
    """storage avro in streaming mode without the jar: binaryFile stream +
    per-file OCF decode feeds a watermarked windowed agg end-to-end."""
    import datetime as dt

    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    in_dir = str(tmp_path / "avro_stream_in")
    base = dt.datetime(2024, 1, 1)
    src = spark.createDataFrame(
        [("a", 1.0, base.replace(second=5)),
         ("a", 2.0, base.replace(second=25)),
         ("b", 3.0, base.replace(minute=2))],
        "k string, v double, ts timestamp",
    )
    run_pipeline(spark, parse_config(f"""
sinks:
  - name: w
    module: storage
    inputs: [src]
    parameters: {{format: avro, output: {in_dir}}}
"""), inputs={"src": src.coalesce(1)})

    out_dir = str(tmp_path / "avro_stream_out")
    run_pipeline(spark, parse_config(f"""
sources:
  - name: events
    module: storage
    parameters: {{format: avro, input: {in_dir}, mode: streaming}}
transforms:
  - name: agg
    module: aggregation
    inputs: [events]
    timestampAttribute: ts
    strategy:
      window: {{type: fixed, size: 1, unit: minute}}
      allowedLateness: 5
    parameters:
      groupFields: [k]
      aggregations:
        - {{name: n, op: count}}
        - {{name: total, op: sum, field: v}}
sinks:
  - name: out
    module: storage
    inputs: [agg]
    parameters: {{format: parquet, output: {out_dir}, availableNow: true}}
"""))
    rows = {(r["k"], r["window"]["start"].minute): (r["n"], r["total"])
            for r in spark.read.parquet(out_dir).collect()}
    assert rows[("a", 0)] == (2, 3.0)


class TestIcebergNativeWriter:
    """Native commit path: Spark writes parquet, the stdlib OCF encoder
    writes spec-shaped v2 metadata; validated by reading back through the
    independent reader AND by asserting the spec structures directly."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "id long, v string")

    def test_create_and_read_back(self, spark, tmp_path):
        from pipeline_spark.sinks.iceberg_native import write_iceberg_native

        tbl = str(tmp_path / "tbl")
        write_iceberg_native(self._df(spark, [(1, "a"), (2, "b")]), {"path": tbl})
        back = read_iceberg_native(spark, {"path": tbl})
        assert sorted((r["id"], r["v"]) for r in back.collect()) == [(1, "a"), (2, "b")]

    def test_append_and_time_travel(self, spark, tmp_path):
        from pipeline_spark.sinks.iceberg_native import write_iceberg_native

        tbl = str(tmp_path / "tbl")
        write_iceberg_native(self._df(spark, [(1, "a")]), {"path": tbl})
        meta1 = json.load(open(str(tmp_path / "tbl" / "metadata" / "v1.metadata.json")))
        snap1 = meta1["current-snapshot-id"]
        write_iceberg_native(self._df(spark, [(2, "b")]), {"path": tbl, "mode": "append"})
        back = read_iceberg_native(spark, {"path": tbl})
        assert sorted(r["id"] for r in back.collect()) == [1, 2]
        # time travel to the first snapshot sees only the first commit
        old = read_iceberg_native(spark, {"path": tbl, "snapshotId": snap1})
        assert [r["id"] for r in old.collect()] == [1]

    def test_overwrite_resets(self, spark, tmp_path):
        from pipeline_spark.sinks.iceberg_native import write_iceberg_native

        tbl = str(tmp_path / "tbl")
        write_iceberg_native(self._df(spark, [(1, "a"), (2, "b")]), {"path": tbl})
        write_iceberg_native(self._df(spark, [(9, "z")]), {"path": tbl, "mode": "overwrite"})
        back = read_iceberg_native(spark, {"path": tbl})
        assert [(r["id"], r["v"]) for r in back.collect()] == [(9, "z")]
        # both snapshots retained in the log
        meta = json.load(open(str(tmp_path / "tbl" / "metadata" / "v2.metadata.json")))
        assert len(meta["snapshots"]) == 2

    def test_spec_shape(self, spark, tmp_path):
        """Metadata follows the public v2 spec: field-id'd schema, avro
        manifests with spec field-ids, name-mapping for id-less parquet."""
        from pipeline_spark.sinks.iceberg_native import write_iceberg_native

        tbl = tmp_path / "tbl"
        write_iceberg_native(self._df(spark, [(1, "a")]), {"path": str(tbl)})
        meta = json.load(open(str(tbl / "metadata" / "v1.metadata.json")))
        assert meta["format-version"] == 2
        schema = meta["schemas"][0]
        assert [(f["id"], f["name"]) for f in schema["fields"]] == [(1, "id"), (2, "v")]
        nm = json.loads(meta["properties"]["schema.name-mapping.default"])
        assert nm[0] == {"field-id": 1, "names": ["id"]}
        snap = meta["snapshots"][-1]
        with open(snap["manifest-list"], "rb") as fh:
            lschema, manifests = read_ocf(fh.read())
        by_id = {f.get("field-id"): f["name"] for f in lschema["fields"]}
        assert by_id[500] == "manifest_path" and by_id[503] == "added_snapshot_id"
        manifests = list(manifests)
        assert manifests[0]["added_rows_count"] == 1
        with open(manifests[0]["manifest_path"], "rb") as fh:
            mschema, entries = read_ocf(fh.read())
        entries = list(entries)
        assert entries[0]["status"] == 1
        df_rec = entries[0]["data_file"]
        assert df_rec["file_format"] == "PARQUET" and df_rec["record_count"] == 1

    def test_sink_module_fallback_e2e(self, spark, tmp_path):
        from pipeline_spark.config import parse_config
        from pipeline_spark.executor import run_pipeline

        tbl = str(tmp_path / "tbl")
        src = str(tmp_path / "in.parquet")
        self._df(spark, [(5, "e"), (6, "f")]).write.parquet(src)
        run_pipeline(spark, parse_config(f"""
sources:
  - name: rows
    module: storage
    parameters: {{format: parquet, input: {src}}}
sinks:
  - name: ice
    module: iceberg
    inputs: [rows]
    parameters: {{path: {tbl}}}
"""))
        outs = run_pipeline(spark, parse_config(f"""
sources:
  - name: back
    module: iceberg
    parameters: {{path: {tbl}}}
"""))
        assert sorted(r["id"] for r in outs["back"].collect()) == [5, 6]

    def test_partitioned_write_no_longer_gated(self, spark, tmp_path):
        # partition transforms are native now (tests/test_icebergpart.py);
        # only unknown transforms and catalog URIs still raise
        from pipeline_spark.sinks.iceberg_native import write_iceberg_native

        with pytest.raises(ValueError, match="transform"):
            write_iceberg_native(
                self._df(spark, [(1, "a")]),
                {"path": str(tmp_path / "t"),
                 "partitionSpec": [{"field": "v", "transform": "void"}]},
            )

    def test_merge_copy_on_write(self, spark, tmp_path):
        from pipeline_spark.sinks.iceberg_native import write_iceberg_native

        tbl = str(tmp_path / "tbl")
        write_iceberg_native(
            self._df(spark, [(1, "a"), (2, "b"), (3, "c")]), {"path": tbl}
        )
        changes = spark.createDataFrame(
            [(2, "B", "UPSERT"), (3, None, "DELETE"), (4, "d", "UPSERT")],
            "id long, v string, __op__ string",
        )
        write_iceberg_native(changes, {"path": tbl, "mode": "merge",
                                       "primaryKeys": ["id"]})
        back = read_iceberg_native(spark, {"path": tbl})
        assert sorted((r["id"], r["v"]) for r in back.collect()) == [
            (1, "a"), (2, "B"), (4, "d"),
        ]
        # merge without an op column = pure upsert
        ups = spark.createDataFrame([(1, "A")], "id long, v string")
        write_iceberg_native(ups, {"path": tbl, "mode": "merge",
                                   "primaryKeys": ["id"]})
        back2 = read_iceberg_native(spark, {"path": tbl})
        assert sorted((r["id"], r["v"]) for r in back2.collect()) == [
            (1, "A"), (2, "B"), (4, "d"),
        ]
        with pytest.raises(ValueError, match="primaryKeys"):
            write_iceberg_native(ups, {"path": tbl, "mode": "merge"})


class TestRowLevelDeletes:
    """v2 merge-on-read: position + equality delete files applied
    natively (spec §Row-level deletes; write side = append_delete_files,
    read side = _apply_row_deletes via read_iceberg_native)."""

    def _table(self, spark, tmp_path, rows, name="mor"):
        from pipeline_spark.sinks.iceberg_native import write_iceberg_native

        tbl = str(tmp_path / name)
        df = spark.createDataFrame(rows, "id long, v string").coalesce(1)
        write_iceberg_native(df, {"path": tbl})
        return tbl

    def test_position_deletes(self, spark, tmp_path):
        from pipeline_spark.sinks.iceberg_native import append_delete_files
        from pipeline_spark.sources.iceberg_native import plan_files

        tbl = self._table(
            spark, tmp_path, [(i, f"v{i}") for i in range(6)]
        )
        data, deletes, _ = plan_files(tbl)
        assert len(data) == 1 and not deletes
        dfile = data[0]["path"]
        # delete row ordinals 0 and 3 of that file
        order = [r["id"] for r in pq.read_table(dfile).to_pylist()]
        del_path = str(tmp_path / "pos-del.parquet")
        pq.write_table(
            pa.table({"file_path": [dfile, dfile], "pos": pa.array([0, 3], pa.int64())}),
            del_path,
        )
        append_delete_files(tbl, [{"path": del_path, "content": 1}])
        back = read_iceberg_native(spark, {"path": tbl})
        got = sorted(r["id"] for r in back.collect())
        expect = sorted(set(order) - {order[0], order[3]})
        assert got == expect

    def test_equality_deletes_and_sequence_rule(self, spark, tmp_path):
        from pipeline_spark.sinks.iceberg_native import (
            append_delete_files,
            write_iceberg_native,
        )
        from pipeline_spark.sources.iceberg_native import (
            _field_names_by_id,
            find_table_metadata,
        )

        tbl = self._table(spark, tmp_path, [(i, f"v{i}") for i in range(6)])
        with open(find_table_metadata(tbl)) as fh:
            meta = json.load(fh)
        id_field = next(
            fid for fid, n in _field_names_by_id(meta).items() if n == "id"
        )
        del_path = str(tmp_path / "eq-del.parquet")
        pq.write_table(pa.table({"id": pa.array([2, 4], pa.int64())}), del_path)
        append_delete_files(
            tbl, [{"path": del_path, "content": 2, "equality_ids": [id_field]}]
        )
        back = read_iceberg_native(spark, {"path": tbl})
        assert sorted(r["id"] for r in back.collect()) == [0, 1, 3, 5]
        # sequence rule: a LATER append re-inserting id=2 must survive —
        # the equality delete only applies to data with seq < delete seq
        re_add = spark.createDataFrame([(2, "re-added")], "id long, v string")
        write_iceberg_native(re_add, {"path": tbl, "mode": "append"})
        back2 = read_iceberg_native(spark, {"path": tbl})
        got = sorted((r["id"], r["v"]) for r in back2.collect())
        assert (2, "re-added") in got
        assert sorted(i for i, _ in got) == [0, 1, 2, 3, 5]

    def test_time_travel_before_deletes(self, spark, tmp_path):
        from pipeline_spark.sinks.iceberg_native import append_delete_files
        from pipeline_spark.sources.iceberg_native import plan_files

        tbl = self._table(spark, tmp_path, [(i, f"v{i}") for i in range(4)])
        data, _, meta = plan_files(tbl)
        pre_snapshot = meta["current-snapshot-id"]
        del_path = str(tmp_path / "pd.parquet")
        pq.write_table(
            pa.table({"file_path": [data[0]["path"]], "pos": pa.array([0], pa.int64())}),
            del_path,
        )
        append_delete_files(tbl, [{"path": del_path, "content": 1}])
        assert read_iceberg_native(spark, {"path": tbl}).count() == 3
        old = read_iceberg_native(spark, {"path": tbl, "snapshotId": pre_snapshot})
        assert old.count() == 4

    def test_plan_data_files_refuses_mor(self, spark, tmp_path):
        from pipeline_spark.sinks.iceberg_native import append_delete_files
        from pipeline_spark.sources.iceberg_native import plan_files

        tbl = self._table(spark, tmp_path, [(1, "a"), (2, "b")])
        data, _, _ = plan_files(tbl)
        del_path = str(tmp_path / "pd2.parquet")
        pq.write_table(
            pa.table({"file_path": [data[0]["path"]], "pos": pa.array([0], pa.int64())}),
            del_path,
        )
        append_delete_files(tbl, [{"path": del_path, "content": 1}])
        with pytest.raises(NotImplementedError, match="delete files"):
            plan_data_files(tbl)

    def test_equality_delete_validation(self, tmp_path, spark):
        from pipeline_spark.sinks.iceberg_native import append_delete_files

        tbl = self._table(spark, tmp_path, [(1, "a")])
        with pytest.raises(ValueError, match="equality_ids"):
            append_delete_files(tbl, [{"path": "x.parquet", "content": 2}])
        with pytest.raises(ValueError, match="content"):
            append_delete_files(tbl, [{"path": "x.parquet", "content": 3}])


class TestSchemaEvolution:
    """Field-id based schema evolution on read: the manifest's write-time
    schema (OCF metadata) maps old parquet column names to the current
    schema — renames resolve, added columns null-pad, dropped columns
    disappear (spec: Schema Evolution + Manifests)."""

    def _write_v1(self, spark, tmp_path):
        from pipeline_spark.sinks.iceberg_native import write_iceberg_native

        tbl = str(tmp_path / "evo")
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        write_iceberg_native(df, {"path": tbl})
        return tbl

    def _evolve_metadata(self, tbl, rename=None, add=None, drop=None):
        """Simulate a catalog schema commit: rewrite the current schema
        in the latest metadata JSON (same field-ids = renames; new id =
        added column; removed entry = dropped column)."""
        from pipeline_spark.sources.iceberg_native import find_table_metadata

        meta_file = find_table_metadata(tbl)
        meta = json.load(open(meta_file))
        schemas = meta.get("schemas") or [meta["schema"]]
        cur = next(
            s for s in schemas
            if s.get("schema-id", 0) == meta.get("current-schema-id", 0)
        )
        if rename:
            for f in cur["fields"]:
                if f["name"] in rename:
                    f["name"] = rename[f["name"]]
        if drop:
            cur["fields"] = [f for f in cur["fields"] if f["name"] not in drop]
        if add:
            last = max(f["id"] for f in cur["fields"])
            for i, (name, typ) in enumerate(add.items()):
                cur["fields"].append(
                    {"id": last + 1 + i, "name": name, "required": False, "type": typ}
                )
        json.dump(meta, open(meta_file, "w"))

    def test_rename_resolves_by_field_id(self, spark, tmp_path):
        tbl = self._write_v1(spark, tmp_path)
        self._evolve_metadata(tbl, rename={"v": "label"})
        back = read_iceberg_native(spark, {"path": tbl})
        assert back.columns == ["id", "label"]
        assert sorted((r["id"], r["label"]) for r in back.collect()) == [(1, "a"), (2, "b")]

    def test_added_column_null_pads(self, spark, tmp_path):
        tbl = self._write_v1(spark, tmp_path)
        self._evolve_metadata(tbl, add={"score": "double"})
        back = read_iceberg_native(spark, {"path": tbl})
        assert back.columns == ["id", "v", "score"]
        assert dict(back.dtypes)["score"] == "double"
        assert all(r["score"] is None for r in back.collect())

    def test_dropped_column_disappears(self, spark, tmp_path):
        tbl = self._write_v1(spark, tmp_path)
        self._evolve_metadata(tbl, drop={"v"})
        back = read_iceberg_native(spark, {"path": tbl})
        assert back.columns == ["id"]
        assert sorted(r["id"] for r in back.collect()) == [1, 2]

    def test_mixed_generations_union(self, spark, tmp_path):
        """Old manifest (pre-rename names) + new manifest (post-rename
        names) read as ONE consistent current-schema frame."""
        from pipeline_spark.sinks.iceberg_native import write_iceberg_native

        tbl = self._write_v1(spark, tmp_path)
        self._evolve_metadata(tbl, rename={"v": "label"}, add={"score": "double"})
        new = spark.createDataFrame(
            [(3, "c", 0.5)], "id long, label string, score double"
        )
        write_iceberg_native(new, {"path": tbl, "mode": "append"})
        back = read_iceberg_native(spark, {"path": tbl})
        assert back.columns == ["id", "label", "score"]
        rows = sorted((r["id"], r["label"], r["score"]) for r in back.collect())
        assert rows == [(1, "a", None), (2, "b", None), (3, "c", 0.5)]

    def test_unevolved_table_unchanged(self, spark, tmp_path):
        """No renames/adds -> the fast path (single multi-path scan)."""
        tbl = self._write_v1(spark, tmp_path)
        back = read_iceberg_native(spark, {"path": tbl})
        assert sorted((r["id"], r["v"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_swapped_renames_resolve_atomically(spark, tmp_path):
    """a<->b swapped renames must map in ONE projection — a chained
    withColumnRenamed would collide and duplicate columns."""
    from pipeline_spark.sinks.iceberg_native import write_iceberg_native
    from pipeline_spark.sources.iceberg_native import (
        find_table_metadata,
        read_iceberg_native,
    )

    tbl = str(tmp_path / "swap")
    df = spark.createDataFrame([(1, "x")], "a string, b string")
    write_iceberg_native(
        spark.createDataFrame([("1", "one")], "a string, b string"), {"path": tbl}
    )
    meta_file = find_table_metadata(tbl)
    meta = json.load(open(meta_file))
    schemas = meta.get("schemas") or [meta["schema"]]
    cur = next(
        s for s in schemas
        if s.get("schema-id", 0) == meta.get("current-schema-id", 0)
    )
    for f in cur["fields"]:
        f["name"] = {"a": "b", "b": "a"}[f["name"]]
    json.dump(meta, open(meta_file, "w"))
    back = read_iceberg_native(spark, {"path": tbl})
    row = back.collect()[0]
    assert back.columns == ["b", "a"]
    assert row["b"] == "1" and row["a"] == "one"  # values follow field-ids


# --- manifest-level data skipping -------------------------------------------


def test_bound_encoding_appendix_d():
    import datetime as dt

    from pipeline_spark.sinks.lakefiles import encode_bound
    from pipeline_spark.sources.iceberg_native import decode_bound

    # Appendix D: little-endian fixed widths
    assert encode_bound(1, "long") == b"\x01" + b"\x00" * 7
    assert encode_bound(1, "int") == b"\x01\x00\x00\x00"
    assert decode_bound(encode_bound(-7, "int"), "int") == -7
    assert decode_bound(encode_bound(2.5, "double"), "double") == 2.5
    assert decode_bound(encode_bound(True, "boolean"), "boolean") is True
    d = dt.date(2024, 3, 1)
    assert decode_bound(encode_bound(d, "date"), "date") == "2024-03-01"
    ts = dt.datetime(2024, 3, 1, 12, 30, 0, 250)
    assert decode_bound(encode_bound(ts, "timestamp"), "timestamp") == (
        "2024-03-01T12:30:00.000250"
    )
    # string bounds are intentionally never written
    assert encode_bound("abc", "string") is None


def test_data_filter_prunes_files_by_bounds(spark, tmp_path):
    tbl = str(tmp_path / "skiptbl")
    write_iceberg_native(
        spark.range(0, 100).coalesce(1), {"path": tbl}
    )
    write_iceberg_native(
        spark.range(100, 200).coalesce(1), {"path": tbl, "mode": "append"}
    )
    write_iceberg_native(
        spark.range(200, 300).coalesce(1), {"path": tbl, "mode": "append"}
    )
    full = read_iceberg_native(spark, {"path": tbl})
    assert len(full.inputFiles()) == 3 and full.count() == 300
    pruned = read_iceberg_native(
        spark, {"path": tbl, "dataFilter": {"key": "id", "op": "<", "value": 50}}
    )
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 50
    mid = read_iceberg_native(
        spark, {"path": tbl, "dataFilter": [
            {"key": "id", "op": ">=", "value": 120},
            {"key": "id", "op": "<=", "value": 130},
        ]},
    )
    assert len(mid.inputFiles()) == 1
    assert [r["id"] for r in mid.orderBy("id").collect()] == list(range(120, 131))
    none = read_iceberg_native(
        spark, {"path": tbl, "dataFilter": {"key": "id", "op": ">", "value": 10_000}}
    )
    assert none.count() == 0


def test_data_filter_string_column_no_bounds_but_exact(spark, tmp_path):
    from pyspark.sql import Row

    tbl = str(tmp_path / "strtbl")
    df = spark.createDataFrame([Row(k=1, s="aa"), Row(k=2, s=None)]).coalesce(1)
    write_iceberg_native(df, {"path": tbl})
    from pipeline_spark.sources.iceberg_native import plan_files

    data, _d, _m = plan_files(tbl)
    lows = data[0].get("lower_bounds") or []
    low_ids = {e["key"] for e in lows} if not isinstance(lows, dict) else set(lows)
    # k (field id 1) bounded; s (string, id 2) withheld
    assert 1 in low_ids and 2 not in low_ids
    out = read_iceberg_native(
        spark, {"path": tbl, "dataFilter": {"key": "s", "op": "=", "value": "aa"}}
    )
    assert [r["k"] for r in out.collect()] == [1]
    # null-count pruning: a file with zero nulls in s is provably
    # disjoint from `s isNull`
    nn = read_iceberg_native(
        spark, {"path": tbl, "dataFilter": {"key": "s", "op": "isNull"}}
    )
    assert nn.count() == 1


# --- rewrite-data-files compaction ------------------------------------------


def test_iceberg_compact_binpacks(spark, tmp_path):
    from pipeline_spark.sinks.iceberg_native import compact_iceberg_native

    tbl = str(tmp_path / "ice_compact")
    for i in range(5):
        write_iceberg_native(
            spark.range(i * 10, (i + 1) * 10).coalesce(1),
            {"path": tbl, "mode": "append" if i else "create"},
        )
    before = read_iceberg_native(spark, {"path": tbl})
    assert len(before.inputFiles()) == 5
    res = compact_iceberg_native(spark, {"path": tbl, "targetFileBytes": 1 << 30})
    assert res == {
        "compacted_files": 5, "new_files": 1, "materialized_delete_files": 0,
    }
    after = read_iceberg_native(spark, {"path": tbl})
    assert len(after.inputFiles()) == 1
    assert sorted(r["id"] for r in after.collect()) == list(range(50))
    # bounds survive the rewrite: skipping still prunes to nothing
    none = read_iceberg_native(
        spark, {"path": tbl, "dataFilter": {"key": "id", "op": ">", "value": 999}}
    )
    assert none.count() == 0
    # previous snapshot still time-travels to the small-file layout
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    meta = json.loads(open(find_table_metadata(tbl)).read())
    prev_snap = meta["snapshots"][-2]["snapshot-id"]
    old = read_iceberg_native(spark, {"path": tbl, "snapshotId": prev_snap})
    assert len(old.inputFiles()) == 5 and old.count() == 50
    assert meta["snapshots"][-1]["summary"]["operation"] == "replace"


def test_iceberg_compact_mixed_sizes_keeps_untouched(spark, tmp_path):
    from pipeline_spark.sinks.iceberg_native import compact_iceberg_native

    tbl = str(tmp_path / "ice_compact2")
    # one big file (above threshold) + three small ones
    write_iceberg_native(
        spark.range(0, 20000).coalesce(1), {"path": tbl, "mode": "create"}
    )
    for i in range(3):
        write_iceberg_native(
            spark.range(20000 + i * 5, 20000 + (i + 1) * 5).coalesce(1),
            {"path": tbl, "mode": "append"},
        )
    big_size = max(
        __import__("os").path.getsize(f.replace("file:", ""))
        for f in read_iceberg_native(spark, {"path": tbl}).inputFiles()
    )
    res = compact_iceberg_native(
        spark, {"path": tbl, "targetFileBytes": big_size}
    )
    assert res["compacted_files"] == 3 and res["new_files"] == 1
    after = read_iceberg_native(spark, {"path": tbl})
    assert len(after.inputFiles()) == 2
    assert after.count() == 20015


def test_iceberg_compact_materializes_equality_deletes(spark, tmp_path):
    """r6 (VERDICT r5 ask #5): compaction over an equality-delete MOR
    table applies the deletes during the rewrite (the r4-era refusal is
    gone), drops the obsolete delete files, and deleted rows STAY
    deleted post-compaction."""
    import pyarrow as pa2
    import pyarrow.parquet as pq2

    from pipeline_spark.sinks.iceberg_native import (
        append_delete_files,
        compact_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import plan_files

    tbl = str(tmp_path / "ice_compact_mor")
    write_iceberg_native(
        spark.range(0, 10).coalesce(1), {"path": tbl, "mode": "create"}
    )
    write_iceberg_native(
        spark.range(10, 20).coalesce(1), {"path": tbl, "mode": "append"}
    )
    eq = str(tmp_path / "eq_del.parquet")
    pq2.write_table(pa2.table({"id": pa2.array([3], pa2.int64())}), eq)
    append_delete_files(tbl, [{"path": eq, "content": 2, "equality_ids": [1]}])
    assert sorted(
        r["id"] for r in read_iceberg_native(spark, {"path": tbl}).collect()
    ) == [i for i in range(20) if i != 3]
    res = compact_iceberg_native(spark, {"path": tbl, "targetFileBytes": 1 << 30})
    assert res["materialized_delete_files"] == 1
    # no delete files remain in the new snapshot
    _data, deletes, _meta = plan_files(tbl)
    assert deletes == []
    after = read_iceberg_native(spark, {"path": tbl})
    assert len(after.inputFiles()) == 1
    assert sorted(r["id"] for r in after.collect()) == [
        i for i in range(20) if i != 3
    ]


def test_iceberg_compact_materializes_position_deletes(spark, tmp_path):
    """Position-delete MOR compaction: only the files the delete file
    NAMES are forced into the rewrite (a big untouched file above the
    size threshold survives with its original sequence number), the
    delete files drop, rows stay deleted."""
    from pipeline_spark.sinks.iceberg_native import (
        compact_iceberg_native,
        delete_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import plan_files

    tbl = str(tmp_path / "ice_compact_pos")
    # one big file kept untouched + two small ones, delete hits a small one
    write_iceberg_native(
        spark.range(0, 20000).coalesce(1), {"path": tbl, "mode": "create"}
    )
    write_iceberg_native(
        spark.range(20000, 20005).coalesce(1), {"path": tbl, "mode": "append"}
    )
    write_iceberg_native(
        spark.range(20005, 20010).coalesce(1), {"path": tbl, "mode": "append"}
    )
    res = delete_iceberg_native(
        spark,
        {"path": tbl, "where": [{"key": "id", "op": "=", "value": 20007}]},
    )
    assert res["deleted_rows"] == 1
    big_size = max(
        os.path.getsize(f.replace("file:", ""))
        for f in read_iceberg_native(spark, {"path": tbl}).inputFiles()
    )
    res = compact_iceberg_native(spark, {"path": tbl, "targetFileBytes": big_size})
    assert res["materialized_delete_files"] == 1
    assert res["compacted_files"] == 2  # the two smalls; big untouched
    _data, deletes, _meta = plan_files(tbl)
    assert deletes == []
    after = read_iceberg_native(spark, {"path": tbl})
    assert len(after.inputFiles()) == 2
    assert after.count() == 20009
    assert after.where("id = 20007").count() == 0


def test_iceberg_expire_snapshots_reclaims_files(spark, tmp_path):
    import os

    from pipeline_spark.sinks.iceberg_native import (
        compact_iceberg_native,
        expire_iceberg_native,
    )

    tbl = str(tmp_path / "ice_expire")
    for i in range(3):
        write_iceberg_native(
            spark.range(i * 10, (i + 1) * 10).coalesce(1),
            {"path": tbl, "mode": "append" if i else "create"},
        )
    compact_iceberg_native(spark, {"path": tbl, "targetFileBytes": 1 << 30})

    def count(ext, under=None):
        n = 0
        for root, _d, files in os.walk(under or tbl):
            n += sum(f.endswith(ext) for f in files)
        return n

    assert count(".parquet") == 4  # 3 originals + 1 compacted
    dry = expire_iceberg_native(spark, {"path": tbl, "dryRun": True})
    assert dry["expired_snapshots"] == 3 and dry["removed_data_files"] == 3
    assert count(".parquet") == 4
    res = expire_iceberg_native(spark, {"path": tbl})
    assert res["expired_snapshots"] == 3
    assert res["removed_data_files"] == 3
    assert res["removed_manifests"] > 0
    assert count(".parquet") == 1
    after = read_iceberg_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in after.collect()) == list(range(30))
    # only one snapshot remains
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    meta = json.loads(open(find_table_metadata(tbl)).read())
    assert len(meta["snapshots"]) == 1


def test_iceberg_expire_retain_last_keeps_time_travel(spark, tmp_path):
    from pipeline_spark.sinks.iceberg_native import expire_iceberg_native
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_expire2")
    for i in range(3):
        write_iceberg_native(
            spark.range(i * 10, (i + 1) * 10).coalesce(1),
            {"path": tbl, "mode": "append" if i else "create"},
        )
    res = expire_iceberg_native(spark, {"path": tbl, "retainLast": 2})
    assert res["expired_snapshots"] == 1
    # appends share data files across snapshots: nothing deletable yet
    assert res["removed_data_files"] == 0
    meta = json.loads(open(find_table_metadata(tbl)).read())
    assert len(meta["snapshots"]) == 2
    prev = meta["snapshots"][0]["snapshot-id"]
    old = read_iceberg_native(spark, {"path": tbl, "snapshotId": prev})
    assert old.count() == 20


def test_delete_where_position_deletes(spark, tmp_path):
    from pipeline_spark.sinks.iceberg_native import delete_iceberg_native

    tbl = str(tmp_path / "ice_del")
    for i in range(2):
        write_iceberg_native(
            spark.range(i * 100, (i + 1) * 100).coalesce(1),
            {"path": tbl, "mode": "append" if i else "create"},
        )
    res = delete_iceberg_native(
        spark, {"path": tbl, "where": [
            {"key": "id", "op": ">=", "value": 95},
            {"key": "id", "op": "<", "value": 105},
        ]},
    )
    assert res == {"deleted_rows": 10}
    after = read_iceberg_native(spark, {"path": tbl})
    ids = sorted(r["id"] for r in after.collect())
    assert ids == [i for i in range(200) if not (95 <= i < 105)]
    # MOR: the original data files were NOT rewritten (the third input
    # file is the position-delete parquet the anti-join reads)
    data_files = [f for f in after.inputFiles() if "/delete-" not in f]
    assert len(data_files) == 2 and len(after.inputFiles()) == 3
    # empty predicate: no snapshot committed
    res2 = delete_iceberg_native(
        spark, {"path": tbl, "where": {"key": "id", "op": ">", "value": 9999}}
    )
    assert res2 == {"deleted_rows": 0}


def test_delete_where_row_cap(spark, tmp_path):
    from pipeline_spark.sinks.iceberg_native import delete_iceberg_native

    tbl = str(tmp_path / "ice_del_cap")
    write_iceberg_native(
        spark.range(0, 1000).coalesce(1), {"path": tbl, "mode": "create"}
    )
    with pytest.raises(ValueError, match="maxDeleteRows"):
        delete_iceberg_native(
            spark,
            {"path": tbl, "maxDeleteRows": 100,
             "where": {"key": "id", "op": ">=", "value": 0}},
        )


def test_append_schema_mismatch_raises(spark, tmp_path):
    """ADVICE r4: an append with added/changed columns must fail fast —
    silently re-assigning field-ids would re-key older manifests' stats
    under different columns (silent corruption)."""
    from pipeline_spark.sinks.iceberg_native import write_iceberg_native

    tbl = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a")], "id long, v string")
    write_iceberg_native(base, {"path": tbl})
    wider = spark.createDataFrame([(2, "b", 1.5)], "id long, v string, x double")
    with pytest.raises(ValueError, match="schema"):
        write_iceberg_native(wider, {"path": tbl, "mode": "append"})
    # rejected BEFORE the data write: no orphan files landed
    data_dirs = list((tmp_path / "tbl" / "data").iterdir())
    assert len(data_dirs) == 1
    retyped = spark.createDataFrame([(2, 3)], "id long, v long")
    with pytest.raises(ValueError, match="schema"):
        write_iceberg_native(retyped, {"path": tbl, "mode": "append"})


def test_append_matching_schema_reuses_field_ids(spark, tmp_path):
    """A (name, type)-matching append keeps the previous schema object —
    field-ids stay stable even when the DataFrame column order differs."""
    from pipeline_spark.sinks.iceberg_native import write_iceberg_native

    tbl = str(tmp_path / "tbl")
    write_iceberg_native(
        spark.createDataFrame([(1, "a")], "id long, v string"), {"path": tbl}
    )
    meta1 = json.load(open(str(tmp_path / "tbl" / "metadata" / "v1.metadata.json")))
    # reordered columns, same (name, type) set
    write_iceberg_native(
        spark.createDataFrame([("b", 2)], "v string, id long"),
        {"path": tbl, "mode": "append"},
    )
    meta2 = json.load(open(str(tmp_path / "tbl" / "metadata" / "v2.metadata.json")))
    assert meta2["schemas"] == meta1["schemas"]
    assert meta2["last-column-id"] == meta1["last-column-id"]
    assert (
        meta2["properties"]["schema.name-mapping.default"]
        == meta1["properties"]["schema.name-mapping.default"]
    )
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_delete_manifest_carries_spec_partition_record(spark, tmp_path):
    """ADVICE r4, superseded r11: a GLOBAL delete's manifest on a
    partitioned table declares a registered UNPARTITIONED spec with an
    empty partition record — the spec scopes delete application by the
    manifest's partition, so an all-null record under spec-0 would read
    as the NULL partition to strict readers (iceberg-java's
    DeleteFileIndex) and miss every real partition."""
    from pipeline_spark.sinks.iceberg_native import delete_iceberg_native

    tbl = str(tmp_path / "ice_part_del")
    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(20)],
        "id long, par string",
    )
    write_iceberg_native(
        df.coalesce(1),
        {"path": tbl, "partitionSpec": [{"field": "par", "transform": "identity"}]},
    )
    res = delete_iceberg_native(
        spark, {"path": tbl, "where": {"key": "id", "op": "<", "value": 3}}
    )
    assert res == {"deleted_rows": 3}
    meta = json.load(open(sorted((tmp_path / "ice_part_del" / "metadata").glob(
        "v*.metadata.json"))[-1]))
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    with open(snap["manifest-list"], "rb") as fh:
        _, manifests = read_ocf(fh.read())
    delete_manifest = next(m for m in manifests if m["content"] == 1)
    with open(delete_manifest["manifest_path"], "rb") as fh:
        mschema, entries = read_ocf(fh.read())
    # partition record declares spec-0's field under its spec field-id
    data_file_schema = next(
        f["type"] for f in mschema["fields"] if f["name"] == "data_file"
    )
    part_record = next(
        f["type"] for f in data_file_schema["fields"] if f["name"] == "partition"
    )
    assert part_record["fields"] == []  # unpartitioned record
    # the declared spec id is a REGISTERED unpartitioned spec
    specs = {sp["spec-id"]: sp for sp in meta["partition-specs"]}
    assert not specs[delete_manifest["partition_spec_id"]].get("fields")
    assert specs[meta["default-spec-id"]]["fields"]  # default unchanged
    entries = list(entries)
    assert all(e["data_file"]["partition"] == {} for e in entries)
    after = read_iceberg_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in after.collect()) == list(range(3, 20))


def _serve_rest_catalog(meta_json, *, embed=True, require_token=None):
    """Tiny in-process REST catalog (spec routes) on an ephemeral port."""
    import http.server
    import threading

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _json(self, obj, code=200):
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if require_token and self.headers.get("Authorization") != (
                f"Bearer {require_token}"
            ):
                return self._json({"error": "unauthorized"}, 401)
            path = self.path.split("?")[0]
            if path == "/v1/config":
                return self._json(
                    {"defaults": {}, "overrides": {"prefix": "main"}}
                )
            if path == "/v1/main/namespaces/ns/tables/t":
                result = {"metadata-location": meta_loc[0]}
                if embed:
                    result["metadata"] = meta_json
                return self._json(result)
            return self._json({"error": f"no route {path}"}, 404)

        def do_POST(self):
            if self.path == "/v1/oauth/tokens":
                n = int(self.headers.get("Content-Length", 0))
                form = self.rfile.read(n).decode()
                if "client_id=cid" in form and "client_secret=sec" in form:
                    return self._json(
                        {"access_token": require_token or "tok",
                         "token_type": "bearer"}
                    )
                return self._json({"error": "bad creds"}, 401)
            return self._json({"error": "no route"}, 404)

    meta_loc = [""]
    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, meta_loc


def test_rest_catalog_loads_table(spark, tmp_path):
    """VERDICT r4 #6: a managed (REST-cataloged) table reads natively —
    the catalog only replaces the metadata-directory walk; snapshots,
    pruning and time travel ride the same reader."""
    tbl = str(tmp_path / "rest_tbl")
    write_iceberg_native(
        spark.range(0, 50).coalesce(1), {"path": tbl, "mode": "create"}
    )
    write_iceberg_native(
        spark.range(50, 100).coalesce(1), {"path": tbl, "mode": "append"}
    )
    meta_file = sorted(
        (tmp_path / "rest_tbl" / "metadata").glob("v*.metadata.json")
    )[-1]
    meta_json = json.load(open(meta_file))

    srv, meta_loc = _serve_rest_catalog(meta_json, embed=True)
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        out = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.t"}
        )
        assert sorted(r["id"] for r in out.collect()) == list(range(100))
        # snapshot time travel through the catalog metadata
        snap1 = meta_json["snapshots"][0]["snapshot-id"]
        old = read_iceberg_native(
            spark,
            {"catalog": {"uri": uri}, "table": "ns.t", "snapshotId": snap1},
        )
        assert sorted(r["id"] for r in old.collect()) == list(range(50))
    finally:
        srv.shutdown()


def test_rest_catalog_metadata_location_only_and_oauth(spark, tmp_path):
    """Spec allows LoadTableResult without embedded metadata; the client
    follows metadata-location.  OAuth client-credentials gate enforced."""
    tbl = str(tmp_path / "rest_tbl2")
    write_iceberg_native(
        spark.range(0, 7).coalesce(1), {"path": tbl, "mode": "create"}
    )
    meta_file = sorted(
        (tmp_path / "rest_tbl2" / "metadata").glob("v*.metadata.json")
    )[-1]
    meta_json = json.load(open(meta_file))
    srv, meta_loc = _serve_rest_catalog(
        meta_json, embed=False, require_token="sesame"
    )
    meta_loc[0] = str(meta_file)
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        out = read_iceberg_native(
            spark,
            {"catalog": {"uri": uri, "credential": "cid:sec"}, "table": "ns.t"},
        )
        assert sorted(r["id"] for r in out.collect()) == list(range(7))
        # wrong creds → the token exchange itself fails
        import urllib.error

        with pytest.raises(Exception):
            read_iceberg_native(
                spark,
                {"catalog": {"uri": uri, "credential": "cid:wrong"},
                 "table": "ns.t"},
            )
    finally:
        srv.shutdown()


def test_rest_catalog_table_validation():
    from pipeline_spark.sources.iceberg_rest import load_rest_table

    with pytest.raises(ValueError, match="namespace"):
        load_rest_table({"uri": "http://x"}, "justtable")
    with pytest.raises(ValueError, match="required"):
        load_rest_table({"uri": "http://x"}, "")


def _serve_stateful_catalog():
    """Fake REST catalog that OWNS table metadata: applies create/commit
    (validating assert-ref-snapshot-id, 409 on mismatch) like a real
    server, so writer round-trips and conflict detection are e2e.  Like
    a real catalog it honours the create request's format-version and
    write order, and keeps last-updated-ms, snapshot-log and
    metadata-log (``mem://<table>/vN.metadata.json``) itself."""
    import http.server
    import threading

    state: dict[str, dict] = {}  # table name -> metadata

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _json(self, obj, code=200):
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self):
            n = int(self.headers.get("Content-Length", 0))
            return json.loads(self.rfile.read(n) or b"{}")

        def do_GET(self):
            path = self.path.split("?")[0]
            if path == "/v1/config":
                return self._json({"defaults": {}, "overrides": {"prefix": "main"}})
            if path.startswith("/v1/main/namespaces/ns/tables/"):
                name = path.rsplit("/", 1)[1]
                if name not in state:
                    return self._json({"error": "no such table"}, 404)
                return self._json(
                    {"metadata-location": f"mem://{name}", "metadata": state[name]}
                )
            return self._json({"error": f"no route {path}"}, 404)

        def do_POST(self):
            path = self.path.split("?")[0]
            body = self._body()
            if path == "/v1/main/namespaces/ns/tables":
                name = body["name"]
                props = body.get("properties") or {}
                spec = (body.get("partition-spec")
                        or {"spec-id": 0, "fields": []})
                order = body.get("write-order")
                state[name] = {
                    "format-version": int(props.get("format-version", 2)),
                    "table-uuid": f"uuid-{name}",
                    "location": body["location"],
                    "last-sequence-number": 0,
                    "last-updated-ms": int(time.time() * 1000),
                    "last-column-id": max(
                        (f["id"] for f in body["schema"]["fields"]), default=0
                    ),
                    "current-schema-id": 0,
                    "schemas": [
                        {k: v for k, v in body["schema"].items()
                         if k != "identifier-field-ids"}
                    ],
                    "default-spec-id": 0,
                    "partition-specs": [spec],
                    "last-partition-id": max(
                        [999] + [f["field-id"] for f in spec["fields"]]
                    ),
                    "default-sort-order-id": (
                        order["order-id"] if order else 0
                    ),
                    "sort-orders": [{"order-id": 0, "fields": []}]
                    + ([order] if order else []),
                    "properties": props,
                    "current-snapshot-id": None,
                    "refs": {},
                    "snapshots": [],
                    "snapshot-log": [],
                    "metadata-log": [],
                    "_version": 0,
                }
                if state[name]["format-version"] >= 3:
                    state[name]["next-row-id"] = 0
                return self._json(
                    {"metadata-location": f"mem://{name}", "metadata": state[name]}
                )
            if path.startswith("/v1/main/namespaces/ns/tables/"):
                name = path.rsplit("/", 1)[1]
                if name not in state:
                    return self._json({"error": "no such table"}, 404)
                meta = state[name]
                for req in body.get("requirements", []):
                    if req.get("type") == "assert-ref-snapshot-id":
                        # spec: the named ref must point at the given
                        # snapshot-id; null/missing snapshot-id asserts
                        # the ref does not exist yet
                        ref = req.get("ref", "main")
                        refs = meta.get("refs") or {}
                        if ref in refs:
                            actual = refs[ref].get("snapshot-id")
                        elif ref == "main":
                            actual = meta.get("current-snapshot-id")
                        else:
                            actual = None
                        if actual != req.get("snapshot-id"):
                            return self._json({"error": "requirement failed"}, 409)
                    elif req.get("type") == "assert-current-schema-id":
                        if meta.get("current-schema-id", 0) != req.get(
                            "current-schema-id"
                        ):
                            return self._json({"error": "requirement failed"}, 409)
                last_added_schema_id = None
                before = meta.get("current-snapshot-id")
                for upd in body.get("updates", []):
                    if upd["action"] == "add-snapshot":
                        snap = upd["snapshot"]
                        meta["snapshots"] = list(meta["snapshots"]) + [snap]
                        meta["last-sequence-number"] = max(
                            meta["last-sequence-number"],
                            snap.get("sequence-number", 0),
                        )
                        # v3 row lineage: the CATALOG advances the
                        # table's next-row-id when it applies a snapshot
                        # (spec §Row Lineage — clients only stamp the
                        # snapshot's first-row-id)
                        if int(meta.get("format-version", 2)) >= 3 and (
                            snap.get("first-row-id") is not None
                        ):
                            added = int(
                                (snap.get("summary") or {})
                                .get("added-records") or 0
                            )
                            meta["next-row-id"] = max(
                                int(meta.get("next-row-id") or 0),
                                int(snap["first-row-id"]) + added,
                            )
                    elif upd["action"] == "set-snapshot-ref":
                        ref = upd.get("ref-name", "main")
                        meta.setdefault("refs", {})[ref] = {
                            "snapshot-id": upd["snapshot-id"],
                            "type": upd.get("type", "branch"),
                        }
                        if ref == "main":
                            meta["current-snapshot-id"] = upd["snapshot-id"]
                    elif upd["action"] == "add-schema":
                        sc = upd["schema"]
                        meta["schemas"] = list(meta["schemas"]) + [sc]
                        last_added_schema_id = sc.get("schema-id")
                        meta["last-column-id"] = max(
                            meta.get("last-column-id", 0),
                            int(upd.get("last-column-id", 0)),
                        )
                    elif upd["action"] == "set-current-schema":
                        sid = upd["schema-id"]
                        meta["current-schema-id"] = (
                            last_added_schema_id if sid == -1 else sid
                        )
                    elif upd["action"] == "set-properties":
                        meta["properties"] = {
                            **(meta.get("properties") or {}),
                            **(upd.get("updates") or {}),
                        }
                    elif upd["action"] == "add-spec":
                        sp = upd["spec"]
                        meta["partition-specs"] = list(
                            meta.get("partition-specs") or []
                        ) + [sp]
                        meta["_last_added_spec"] = sp.get("spec-id")
                        meta["last-partition-id"] = max(
                            [meta.get("last-partition-id", 999)]
                            + [f["field-id"] for f in sp["fields"]]
                        )
                    elif upd["action"] == "set-default-spec":
                        sid = upd["spec-id"]
                        meta["default-spec-id"] = (
                            meta.pop("_last_added_spec", sid)
                            if sid == -1 else sid
                        )
                    elif upd["action"] == "add-sort-order":
                        so = upd["sort-order"]
                        meta["sort-orders"] = list(
                            meta.get("sort-orders") or []
                        ) + [so]
                        meta["_last_added_order"] = so.get("order-id")
                    elif upd["action"] == "set-default-sort-order":
                        oid = upd["sort-order-id"]
                        meta["default-sort-order-id"] = (
                            meta.pop("_last_added_order", oid)
                            if oid == -1 else oid
                        )
                    elif upd["action"] == "upgrade-format-version":
                        fv = int(upd["format-version"])
                        if fv < int(meta.get("format-version", 2)):
                            return self._json(
                                {"error": "cannot downgrade"}, 400
                            )
                        meta["format-version"] = fv
                        if fv >= 3:
                            meta.setdefault("next-row-id", 0)
                    elif upd["action"] == "remove-snapshots":
                        gone = set(upd.get("snapshot-ids") or [])
                        meta["snapshots"] = [
                            s for s in meta["snapshots"]
                            if s.get("snapshot-id") not in gone
                        ]
                        meta["snapshot-log"] = [
                            e for e in meta.get("snapshot-log") or []
                            if e.get("snapshot-id") not in gone
                        ]
                now = int(time.time() * 1000)
                meta["last-updated-ms"] = now
                cur = meta.get("current-snapshot-id")
                if cur is not None and cur != before:
                    meta["snapshot-log"] = (meta.get("snapshot-log") or []) + [
                        {"timestamp-ms": now, "snapshot-id": cur}
                    ]
                meta["_version"] = meta.get("_version", 0) + 1
                if meta["_version"] > 1:
                    meta["metadata-log"] = (meta.get("metadata-log") or []) + [
                        {"timestamp-ms": now, "metadata-file":
                         f"mem://{name}/v{meta['_version'] - 1}.metadata.json"}
                    ]
                meta["snapshot-log"] = meta["snapshot-log"][-10:]
                meta["metadata-log"] = meta.get("metadata-log", [])[-10:]
                return self._json(
                    {"metadata-location": f"mem://{name}", "metadata": meta}
                )
            return self._json({"error": "no route"}, 404)

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, state


def _normalized_meta(meta: dict, location: str) -> dict:
    """Table metadata with what legitimately differs between two tables
    blanked: uuids, timestamps, locations, manifest-list names and
    snapshot ids (renumbered in history order)."""
    ids = {s["snapshot-id"]: i for i, s in enumerate(meta.get("snapshots") or [])}
    ids.update({
        e["snapshot-id"]: len(ids) + i
        for i, e in enumerate(meta.get("snapshot-log") or [])
        if e["snapshot-id"] not in ids
    })

    def walk(x, key=None):
        if isinstance(x, dict):
            return {k: walk(v, k) for k, v in x.items()
                    if not k.startswith("_")
                    and k not in ("table-uuid", "location")}
        if isinstance(x, list):
            return [walk(v, key) for v in x]
        if key in ("snapshot-id", "current-snapshot-id", "snapshot-ids"):
            return ids.get(x, x)
        if key in ("timestamp-ms", "last-updated-ms"):
            return 0
        if key == "manifest-list":
            return os.path.dirname(x).replace(location, "<table>")
        if key == "metadata-file":
            return os.path.basename(x)
        return x

    return walk(meta)


def test_local_and_rest_commits_give_the_same_metadata(spark, tmp_path):
    """One op sequence on a filesystem table and on a catalog table: the
    one commit path sends the same update list to the catalog that it
    applies locally, so after every op the two tables' metadata agree
    (ids, paths and timestamps aside) — and every local commit names
    its predecessor in metadata-log."""
    from pipeline_spark.sinks.iceberg_native import (
        alter_iceberg_native,
        compact_iceberg_native,
        delete_iceberg_native,
        expire_iceberg_native,
        rewrite_manifests_iceberg_native,
        rollback_iceberg_native,
        tag_iceberg_native,
        update_iceberg_native,
        upsert_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import load_table_metadata

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        local_loc = str(tmp_path / "local")
        rest_loc = str(tmp_path / "rest")
        tables = [
            ({"path": local_loc}, local_loc, lambda: load_table_metadata(local_loc)),
            ({"catalog": {"uri": uri}, "table": "ns.eq", "location": rest_loc},
             rest_loc, lambda: state["eq"]),
        ]

        def df(lo, hi):
            return spark.createDataFrame(
                [(i, i % 3, f"s{i}") for i in range(lo, hi)],
                "id long, g long, s string",
            ).coalesce(1)

        def snap(meta, i):
            return meta["snapshots"][i]["snapshot-id"]

        ops = [
            ("create", lambda t, m: write_iceberg_native(df(0, 6), {
                **t, "mode": "create", "properties": {"format-version": "3"}})),
            ("append", lambda t, m: write_iceberg_native(
                df(6, 9), {**t, "mode": "append"})),
            ("rename", lambda t, m: alter_iceberg_native(
                spark, {**t, "renameColumn": {"s": "label"}})),
            ("sortBy", lambda t, m: alter_iceberg_native(
                spark, {**t, "sortBy": ["id"]})),
            ("tag", lambda t, m: tag_iceberg_native(
                spark, {**t, "tagName": "v1"})),
            ("compact", lambda t, m: compact_iceberg_native(spark, t)),
            ("delete", lambda t, m: delete_iceberg_native(spark, {
                **t, "where": [{"key": "id", "op": "=", "value": 4}]})),
            ("update", lambda t, m: update_iceberg_native(spark, {
                **t, "where": [{"key": "id", "op": "=", "value": 7}],
                "set": {"g": "g + 100"}})),
            ("upsert", lambda t, m: upsert_iceberg_native(
                spark,
                spark.createDataFrame([(1, 50, "up")],
                                      "id long, g long, label string"),
                {**t, "primaryKeys": ["id"]})),
            ("rewriteManifests", lambda t, m: rewrite_manifests_iceberg_native(
                spark, t)),
            ("rollback", lambda t, m: rollback_iceberg_native(
                spark, {**t, "snapshotId": snap(m, 3)})),
            ("expire", lambda t, m: expire_iceberg_native(
                spark, {**t, "retainLast": 2})),
        ]
        for name, op in ops:
            metas = []
            for params, loc, load in tables:
                prev = None if name == "create" else load()
                op(params, prev)
                metas.append(_normalized_meta(json.loads(json.dumps(load())), loc))
            assert metas[0] == metas[1], name
            if name in ("compact", "delete", "rewriteManifests"):
                local = load_table_metadata(local_loc)
                assert local["metadata-log"][-1]["metadata-file"] == (
                    os.path.join(local_loc, "metadata",
                                 f"v{local['__version'] - 1}.metadata.json")
                ), name
    finally:
        srv.shutdown()


def test_rest_catalog_write_create_append_read(spark, tmp_path):
    """Native REST-catalog WRITES: first write creates the table through
    CreateTableRequest then commits the staged snapshot; appends commit
    via assert-ref-snapshot-id + add-snapshot/set-snapshot-ref; the
    catalog read sees every commit."""
    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_write_tbl")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.wt", "location": loc}
        write_iceberg_native(
            spark.range(0, 20).coalesce(1), {**cat_p, "mode": "create"}
        )
        assert state["wt"]["current-snapshot-id"] is not None
        write_iceberg_native(
            spark.range(20, 40).coalesce(1), {**cat_p, "mode": "append"}
        )
        assert len(state["wt"]["snapshots"]) == 2
        back = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.wt"}
        )
        assert sorted(r["id"] for r in back.collect()) == list(range(40))
        # no client-side metadata files: the catalog owns them
        assert not (tmp_path / "rest_write_tbl" / "metadata").glob(
            "v*.metadata.json"
        ) or not list(
            (tmp_path / "rest_write_tbl" / "metadata").glob("v*.metadata.json")
        )
    finally:
        srv.shutdown()


def test_rest_catalog_write_conflict_is_loud(spark, tmp_path, monkeypatch):
    """A commit whose assert-ref-snapshot-id no longer holds (another
    writer advanced the ref between our load and our commit) must fail
    loudly, never lose an update."""
    from pipeline_spark.sources import iceberg_rest

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_conflict_tbl")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.ct", "location": loc}
        write_iceberg_native(spark.range(0, 5).coalesce(1), cat_p)

        orig = iceberg_rest.RestCatalog.load_table

        def racing_load(self, ns, name):
            meta, mloc = orig(self, ns, name)
            # the interleaved writer advances the ref AFTER our load
            state["ct"]["current-snapshot-id"] = 999999
            state["ct"].setdefault("refs", {})["main"] = {
                "snapshot-id": 999999, "type": "branch",
            }
            return meta, mloc

        monkeypatch.setattr(iceberg_rest.RestCatalog, "load_table", racing_load)
        with pytest.raises(RuntimeError, match="conflict"):
            write_iceberg_native(
                spark.range(5, 10).coalesce(1), {**cat_p, "mode": "append"}
            )
    finally:
        srv.shutdown()


def test_rest_catalog_streaming_high_water_of_missing_table():
    """A stream's first micro-batch into a catalog table that does not
    exist yet reads high-water -1 (nothing committed), not a 404."""
    from pipeline_spark.sinks.iceberg_native import last_streaming_batch

    srv, _state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        assert last_streaming_batch(
            {"catalog": {"uri": uri}, "table": "ns.missing"}, "app"
        ) == -1
    finally:
        srv.shutdown()


def test_rest_catalog_write_validation(spark, tmp_path):
    from pipeline_spark.sinks.iceberg_native import write_iceberg_native as w

    srv, _state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        # creating a new table needs a posix staging location
        with pytest.raises(ValueError, match="location"):
            w(spark.range(3), {"catalog": {"uri": uri}, "table": "ns.nl"})
    finally:
        srv.shutdown()


def test_rest_catalog_branch_writes(spark, tmp_path):
    """r7 (VERDICT r6 ask #4): toBranch through a REST catalog — the
    CommitTableRequest asserts and moves ONLY the branch ref (null
    snapshot-id assertion = 'ref must not exist'), main stays put, the
    second branch append chains from the BRANCH head, and a {ref} read
    through the catalog resolves the branch."""
    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_branch_tbl")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.bt", "location": loc}
        write_iceberg_native(
            spark.range(0, 3).coalesce(1), {**cat_p, "mode": "create"}
        )
        main_head = state["bt"]["current-snapshot-id"]

        write_iceberg_native(
            spark.range(100, 103).coalesce(1),
            {**cat_p, "mode": "append", "toBranch": "audit"},
        )
        # main ref untouched, branch ref created server-side
        assert state["bt"]["current-snapshot-id"] == main_head
        assert state["bt"]["refs"]["audit"]["snapshot-id"] != main_head

        # second branch append chains from the BRANCH head
        write_iceberg_native(
            spark.range(200, 201).coalesce(1),
            {**cat_p, "mode": "append", "toBranch": "audit"},
        )
        read_p = {"catalog": {"uri": uri}, "table": "ns.bt"}
        assert sorted(
            r["id"] for r in read_iceberg_native(spark, read_p).collect()
        ) == [0, 1, 2]
        audit = read_iceberg_native(spark, {**read_p, "ref": "audit"})
        assert sorted(r["id"] for r in audit.collect()) == [
            0, 1, 2, 100, 101, 102, 200,
        ]

        # branch write to a table the catalog does not know refuses
        with pytest.raises(ValueError, match="does not exist"):
            write_iceberg_native(
                spark.range(3).coalesce(1),
                {"catalog": {"uri": uri}, "table": "ns.ghost",
                 "location": str(tmp_path / "ghost"), "toBranch": "b"},
            )
    finally:
        srv.shutdown()


def test_rest_catalog_tag_and_rollback(spark, tmp_path):
    """r7: tag + rollback_to_snapshot through a REST catalog — each is
    one optimistic set-snapshot-ref commit (tag asserts the ref's prior
    position, rollback asserts main's), and {ref}/plain reads through
    the catalog see the results."""
    from pipeline_spark.sinks.iceberg_native import (
        rollback_iceberg_native,
        tag_iceberg_native,
    )

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_tr_tbl")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.tr", "location": loc}
        write_iceberg_native(
            spark.range(0, 3).coalesce(1), {**cat_p, "mode": "create"}
        )
        v0_snap = state["tr"]["current-snapshot-id"]
        res = tag_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.tr",
                    "tagName": "train-v1"})
        assert res == {"ref": "train-v1", "snapshot_id": v0_snap,
                       "type": "tag"}
        write_iceberg_native(
            spark.range(3, 6).coalesce(1), {**cat_p, "mode": "append"}
        )
        read_p = {"catalog": {"uri": uri}, "table": "ns.tr"}
        assert read_iceberg_native(spark, read_p).count() == 6
        tagged = read_iceberg_native(spark, {**read_p, "ref": "train-v1"})
        assert sorted(r["id"] for r in tagged.collect()) == [0, 1, 2]

        res = rollback_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.tr",
                    "snapshotId": v0_snap})
        assert res == {"rolled_back_to": v0_snap, "changed": True}
        assert sorted(
            r["id"] for r in read_iceberg_native(spark, read_p).collect()
        ) == [0, 1, 2]
        # idempotent second rollback: no commit, changed False
        res = rollback_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.tr",
                    "snapshotId": v0_snap})
        assert res["changed"] is False
    finally:
        srv.shutdown()


def test_rest_catalog_expire(spark, tmp_path):
    """r7: expire_snapshots through a REST catalog — one remove-snapshots
    commit (asserting main), client-side cleanup of the staged files no
    retained snapshot references; tagged snapshots stay protected."""
    from pipeline_spark.sinks.iceberg_native import (
        expire_iceberg_native,
        tag_iceberg_native,
    )

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_exp_tbl")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.ex", "location": loc}
        write_iceberg_native(
            spark.range(0, 3).coalesce(1), {**cat_p, "mode": "create"}
        )
        write_iceberg_native(
            spark.range(3, 6).coalesce(1), {**cat_p, "mode": "overwrite"}
        )
        write_iceberg_native(
            spark.range(6, 9).coalesce(1), {**cat_p, "mode": "overwrite"}
        )
        assert len(state["ex"]["snapshots"]) == 3
        parquet_before = sum(
            1 for _r, _d, fs in os.walk(loc) for f in fs
            if f.endswith(".parquet")
        )
        res = expire_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.ex",
                    "retainLast": 1})
        assert res["expired_snapshots"] == 2
        assert res["removed_data_files"] >= 2
        assert len(state["ex"]["snapshots"]) == 1
        parquet_after = sum(
            1 for _r, _d, fs in os.walk(loc) for f in fs
            if f.endswith(".parquet")
        )
        assert parquet_after < parquet_before
        # the surviving state still reads
        back = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.ex"})
        assert sorted(r["id"] for r in back.collect()) == [6, 7, 8]

        # tags protect their snapshot from a later expire
        write_iceberg_native(
            spark.range(9, 12).coalesce(1), {**cat_p, "mode": "overwrite"}
        )
        keep_snap = state["ex"]["snapshots"][0]["snapshot-id"]
        tag_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.ex",
                    "tagName": "keep", "snapshotId": keep_snap})
        res = expire_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.ex",
                    "retainLast": 1})
        assert res["expired_snapshots"] == 0  # only the protected one to drop
        assert {s["snapshot-id"] for s in state["ex"]["snapshots"]} >= {keep_snap}
    finally:
        srv.shutdown()


def test_rest_catalog_row_level_deletes(spark, tmp_path):
    """r7: position AND equality deletes on a REST catalog table — the
    delete file stages in the posix location, the MOR snapshot lands as
    one optimistic add-snapshot commit, and the delete-aware catalog
    read subtracts both."""
    from pipeline_spark.sinks.iceberg_native import (
        delete_iceberg_native,
        equality_delete_iceberg_native,
    )

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_del_tbl")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.dl", "location": loc}
        write_iceberg_native(
            spark.range(0, 8).coalesce(1), {**cat_p, "mode": "create"}
        )
        res = delete_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.dl",
                    "where": {"key": "id", "op": "=", "value": 3}})
        assert res["deleted_rows"] == 1
        res = equality_delete_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.dl",
                    "values": [{"id": 5}, {"id": 6}]})
        assert res["delete_files"] == 1
        assert len(state["dl"]["snapshots"]) == 3
        back = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.dl"})
        assert sorted(r["id"] for r in back.collect()) == [0, 1, 2, 4, 7]
    finally:
        srv.shutdown()


def test_rest_catalog_compact(spark, tmp_path):
    """r7: compaction on a REST catalog table — bin-packs the small-file
    tail, materializes row-level deletes, and commits the replace
    snapshot as one optimistic add-snapshot; the catalog read sees the
    identical rows from fewer files with no delete files left."""
    from pipeline_spark.sinks.iceberg_native import (
        compact_iceberg_native,
        delete_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import plan_files

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_cp_tbl")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.cp", "location": loc}
        for lo in (0, 4, 8):
            write_iceberg_native(
                spark.range(lo, lo + 4).coalesce(1),
                {**cat_p, "mode": "append" if lo else "create"},
            )
        delete_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.cp",
                    "where": {"key": "id", "op": "=", "value": 5}})
        res = compact_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.cp",
                    "targetFileBytes": 1 << 30})
        assert res["compacted_files"] == 3
        assert res["materialized_delete_files"] == 1
        data, dels, _m = plan_files(loc, meta=state["cp"])
        assert len(data) == 1 and not dels
        back = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.cp"})
        assert sorted(r["id"] for r in back.collect()) == [
            0, 1, 2, 3, 4, 6, 7, 8, 9, 10, 11,
        ]
    finally:
        srv.shutdown()


def test_rest_catalog_alter_rename(spark, tmp_path):
    """r7: ALTER through a REST catalog — one optimistic commit carrying
    add-schema (fresh schema-id) + set-current-schema + set-properties
    (merged name-mapping); the pre-alter schema object survives in the
    catalog, appends under the new name stitch with pre-rename files."""
    from pipeline_spark.sinks.iceberg_native import alter_iceberg_native

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_alter_tbl")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.al", "location": loc}
        write_iceberg_native(
            spark.createDataFrame([(1, "x")], "id long, tag string")
            .coalesce(1),
            {**cat_p, "mode": "create"},
        )
        res = alter_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.al",
                    "renameColumn": {"tag": "label"}})
        assert res == {"renamed": {"tag": "label"}, "dropped": []}
        meta = state["al"]
        assert len(meta["schemas"]) == 2  # pre-alter schema survives
        cur = next(
            s for s in meta["schemas"]
            if s.get("schema-id", 0) == meta["current-schema-id"]
        )
        assert [f["name"] for f in cur["fields"]] == ["id", "label"]
        mapping = json.loads(
            meta["properties"]["schema.name-mapping.default"]
        )
        assert {"tag", "label"} <= set(
            next(e for e in mapping if "label" in e["names"])["names"]
        )
        # append under the NEW name; read stitches both generations
        write_iceberg_native(
            spark.createDataFrame([(2, "y")], "id long, label string")
            .coalesce(1),
            {**cat_p, "mode": "append"},
        )
        back = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.al"}
        )
        assert sorted((r["id"], r["label"]) for r in back.collect()) == [
            (1, "x"), (2, "y"),
        ]
    finally:
        srv.shutdown()


def test_branch_write_to_missing_filesystem_table_refuses(spark, tmp_path):
    """r7 (advisor): toBranch on a nonexistent filesystem table used to
    silently write main and never create the branch ref; now it errors
    before any data lands."""
    tbl = str(tmp_path / "no_such_table")
    with pytest.raises(ValueError, match="does not exist"):
        write_iceberg_native(
            spark.range(3).coalesce(1),
            {"path": tbl, "mode": "append", "toBranch": "audit"},
        )
    assert not os.path.exists(tbl)


def test_rest_catalog_merge(spark, tmp_path):
    """r6 (VERDICT r5 ask #4): MERGE through a REST catalog — the
    delete-aware catalog READ plans the existing rows, the copy-on-write
    union commits via the same optimistic CommitTableRequest as
    overwrite.  Covers update + insert + __op__ DELETE routing, and
    merge into a not-yet-existing table degenerating to create."""
    from pyspark.sql import functions as F

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_merge_tbl")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.mt", "location": loc}
        base = spark.range(0, 10).withColumn("val", F.col("id") * 10)
        write_iceberg_native(base.coalesce(1), {**cat_p, "mode": "create"})

        changes = spark.createDataFrame(
            [(1, 111, "UPSERT"), (2, 222, "UPSERT"),
             (50, 500, "UPSERT"), (9, 0, "DELETE")],
            "id long, val long, __op__ string",
        )
        write_iceberg_native(
            changes.coalesce(1),
            {**cat_p, "mode": "merge", "primaryKeys": ["id"]},
        )
        back = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.mt"}
        )
        rows = dict((r["id"], r["val"]) for r in back.collect())
        expect = {i: i * 10 for i in range(9)}
        expect.update({1: 111, 2: 222, 50: 500})
        assert rows == expect  # 9 deleted, 1/2 updated, 50 inserted
        # the merge committed a NEW snapshot through the catalog
        assert len(state["mt"]["snapshots"]) >= 2

        # merge into a missing table degenerates to create
        write_iceberg_native(
            spark.range(3, 5).coalesce(1),
            {"catalog": {"uri": uri}, "table": "ns.mt2",
             "location": str(tmp_path / "rest_merge_new"),
             "mode": "merge", "primaryKeys": ["id"]},
        )
        back2 = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.mt2"}
        )
        assert sorted(r["id"] for r in back2.collect()) == [3, 4]
    finally:
        srv.shutdown()


def test_incremental_append_scan(spark, tmp_path):
    """fromSnapshotId/toSnapshotId: only the files snapshots in range
    ADDED; data-changing snapshots in range refuse."""
    tbl = str(tmp_path / "inc")
    write_iceberg_native(spark.range(0, 10).coalesce(1), {"path": tbl})
    write_iceberg_native(
        spark.range(10, 20).coalesce(1), {"path": tbl, "mode": "append"}
    )
    write_iceberg_native(
        spark.range(20, 30).coalesce(1), {"path": tbl, "mode": "append"}
    )
    meta = json.load(open(sorted(
        (tmp_path / "inc" / "metadata").glob("v*.metadata.json"))[-1]))
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    s1, s2, s3 = [s["snapshot-id"] for s in snaps]

    inc = read_iceberg_native(spark, {"path": tbl, "fromSnapshotId": s1})
    assert sorted(r["id"] for r in inc.collect()) == list(range(10, 30))
    mid = read_iceberg_native(
        spark, {"path": tbl, "fromSnapshotId": s1, "toSnapshotId": s2}
    )
    assert sorted(r["id"] for r in mid.collect()) == list(range(10, 20))
    empty = read_iceberg_native(
        spark, {"path": tbl, "fromSnapshotId": s3}
    )
    assert empty.count() == 0 and "id" in empty.columns
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_iceberg_native(
            spark, {"path": tbl, "fromSnapshotId": s1, "snapshotId": s2}
        )
    # a delete snapshot inside the range refuses the append-scan
    from pipeline_spark.sinks.iceberg_native import delete_iceberg_native

    delete_iceberg_native(
        spark, {"path": tbl, "where": {"key": "id", "op": "=", "value": 5}}
    )
    with pytest.raises(ValueError, match="delete"):
        read_iceberg_native(spark, {"path": tbl, "fromSnapshotId": s1})


@pytest.mark.slow  # fast-tier deselects (r16: driver verify window)
def test_iceberg_streaming_source_tails_appends(spark, tmp_path):
    """The iceberg_native DataSource: initial snapshot then per-snapshot
    micro-batches, executor-side file reads."""
    import glob as _glob

    tbl = str(tmp_path / "stream_tbl")
    write_iceberg_native(spark.range(0, 10).coalesce(1), {"path": tbl})
    write_iceberg_native(
        spark.range(10, 20).coalesce(1), {"path": tbl, "mode": "append"}
    )
    from pipeline_spark.sources.iceberg_stream import read_iceberg_stream_native

    out_dir, cp = str(tmp_path / "out"), str(tmp_path / "ck")

    def drain():
        sdf = read_iceberg_stream_native(spark, {"path": tbl})
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(r["id"] for r in spark.read.parquet(out_dir).collect())

    assert drain() == list(range(20))

    # new append lands in the next incremental batch (checkpoint resume)
    write_iceberg_native(
        spark.range(20, 25).coalesce(1), {"path": tbl, "mode": "append"}
    )
    assert drain() == list(range(25))


def test_iceberg_streaming_module_and_change_guard(spark, tmp_path):
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline
    from pipeline_spark.sources.iceberg_stream import read_iceberg_stream_native

    tbl = str(tmp_path / "stream_guard")
    write_iceberg_native(spark.range(0, 5).coalesce(1), {"path": tbl})
    write_iceberg_native(
        spark.range(99, 100).coalesce(1), {"path": tbl, "mode": "overwrite"}
    )
    # tailing from the first snapshot hits the overwrite → loud error
    meta = json.load(open(sorted(
        (tmp_path / "stream_guard" / "metadata").glob("v*.metadata.json"))[-1]))
    first = min(meta["snapshots"], key=lambda s: s["sequence-number"])
    sdf = read_iceberg_stream_native(
        spark, {"path": tbl, "startingSnapshotId": first["snapshot-id"]}
    )
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(tmp_path / "gout"))
        .option("checkpointLocation", str(tmp_path / "gck"))
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="overwrite|skipChangeSnapshots"):
        q.awaitTermination()
    # with the skip option the stream drains (overwrite snapshot skipped)
    sdf2 = read_iceberg_stream_native(
        spark,
        {"path": tbl, "startingSnapshotId": first["snapshot-id"],
         "skipChangeSnapshots": True},
    )
    q2 = (
        sdf2.writeStream.format("parquet")
        .option("path", str(tmp_path / "gout2"))
        .option("checkpointLocation", str(tmp_path / "gck2"))
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination()
    import glob as _g
    files = _g.glob(str(tmp_path / "gout2" / "*.parquet"))
    assert not files or spark.read.parquet(str(tmp_path / "gout2")).count() == 0


def test_stream_refuses_v1_tables_without_sequence_numbers(tmp_path):
    """Review fix: format-v1 snapshots (no sequence-numbers) would make
    the stream silently never advance — it must refuse instead."""
    from pipeline_spark.sources.iceberg_stream import _IcebergStreamReader

    with pytest.raises(ValueError, match="sequence-numbers"):
        _IcebergStreamReader._snaps({
            "snapshots": [
                {"snapshot-id": 1, "manifest-list": "x"},
                {"snapshot-id": 2, "manifest-list": "y"},
            ]
        })


def test_rest_catalog_multi_segment_prefix_and_token_scope():
    """Review fixes: a multi-segment prefix keeps its slashes in routes;
    the bearer token only goes to the catalog's own origin."""
    from pipeline_spark.sources.iceberg_rest import RestCatalog

    cat = RestCatalog.__new__(RestCatalog)
    cat.uri = "http://cat.example:8181"
    cat.prefix = "ws/12345"
    assert cat._route("namespaces/ns/tables/t") == (
        "http://cat.example:8181/v1/ws/12345/namespaces/ns/tables/t"
    )

    sent = []

    class _Opener:
        def open(self, req, timeout=None):
            sent.append((req.full_url, dict(req.header_items())))

            class R:
                def __enter__(self):
                    return self

                def __exit__(self, *a):
                    return False

                def read(self):
                    return b'{"format-version": 2}'

            return R()

    cat2 = RestCatalog.__new__(RestCatalog)
    cat2.uri = "http://cat.example:8181"
    cat2.prefix = ""
    cat2.opener = _Opener()
    cat2.headers = {"Authorization": "Bearer sekrit"}

    import json as _json

    # fake load_table result handling: simulate by calling the metadata
    # fetch branch through load_table with a patched _http_json? Easier:
    # drive load_table with an opener that returns location-only results
    class _OpenerLT:
        def __init__(self):
            self.calls = []

        def open(self, req, timeout=None):
            self.calls.append((req.full_url, dict(req.header_items())))
            url = req.full_url

            class R:
                def __init__(self, payload):
                    self._p = payload

                def __enter__(self):
                    return self

                def __exit__(self, *a):
                    return False

                def read(self):
                    return self._p

            if "namespaces" in url:
                return R(_json.dumps(
                    {"metadata-location": "http://storage.other:9000/m.json"}
                ).encode())
            return R(b'{"format-version": 2}')

    op = _OpenerLT()
    cat2.opener = op
    meta, loc = cat2.load_table("ns", "t")
    assert meta == {"format-version": 2}
    # first call (catalog) carried the token; second (other origin) did not
    cat_call, storage_call = op.calls
    assert any(k.lower() == "authorization" for k in cat_call[1])
    assert not any(k.lower() == "authorization" for k in storage_call[1])


def test_rest_catalog_write_partitioned(spark, tmp_path):
    """REST commits carry the real partition spec in CreateTableRequest;
    appends validate against it; the catalog read prunes partitions."""
    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_part_tbl")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.pt", "location": loc,
                 "partitionSpec": [{"field": "par", "transform": "identity"}]}
        df = spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd") for i in range(20)],
            "id long, par string",
        )
        write_iceberg_native(df.coalesce(1), cat_p)
        spec = state["pt"]["partition-specs"][0]
        assert [f["name"] for f in spec["fields"]] == ["par"]
        back = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.pt",
                    "partitionFilter": {"par": "odd"}}
        )
        assert sorted(r["id"] for r in back.collect()) == list(range(1, 20, 2))
        # append with a DIFFERENT spec refuses before staging
        with pytest.raises(ValueError, match="partition spec"):
            write_iceberg_native(
                df.coalesce(1),
                {**cat_p, "mode": "append", "partitionSpec": []},
            )
    finally:
        srv.shutdown()


def test_as_of_timestamp_time_travel(spark, tmp_path):
    """asOfTimestamp resolves the latest snapshot whose timestamp-ms <=
    the requested instant (the runtime's as-of-timestamp contract,
    epoch-millis numbers or ISO strings)."""
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_tt")
    write_iceberg_native(spark.range(0, 3).coalesce(1), {"path": tbl, "mode": "create"})
    write_iceberg_native(spark.range(3, 6).coalesce(1), {"path": tbl, "mode": "append"})
    meta = json.loads(open(find_table_metadata(tbl)).read())
    snaps = sorted(meta["snapshots"], key=lambda s: s["timestamp-ms"])
    assert len(snaps) == 2
    # pin distinct snapshot times in the metadata for a deterministic test
    t0 = snaps[0]["timestamp-ms"]
    snaps[1]["timestamp-ms"] = t0 + 100_000
    meta["snapshots"] = snaps
    with open(find_table_metadata(tbl), "w") as fh:
        json.dump(meta, fh)

    at_v0 = read_iceberg_native(
        spark, {"path": tbl, "asOfTimestamp": t0 + 50_000})
    assert sorted(r["id"] for r in at_v0.collect()) == [0, 1, 2]
    at_v1 = read_iceberg_native(
        spark, {"path": tbl, "asOfTimestamp": t0 + 200_000})
    assert sorted(r["id"] for r in at_v1.collect()) == list(range(6))
    import datetime as _dt
    iso = _dt.datetime.fromtimestamp(
        (t0 + 50_000) / 1000.0, tz=_dt.timezone.utc
    ).isoformat()
    assert sorted(
        r["id"]
        for r in read_iceberg_native(
            spark, {"path": tbl, "asOfTimestamp": iso}
        ).collect()
    ) == [0, 1, 2]
    with pytest.raises(ValueError, match="before the earliest"):
        read_iceberg_native(spark, {"path": tbl, "asOfTimestamp": t0 - 1000})


def test_iceberg_append_merge_schema_evolution(spark, tmp_path):
    """r6: mergeSchema on append — new optional columns get fresh field
    ids (existing ids stay verbatim so older manifests' stats remain
    correctly keyed), last-column-id bumps, and old files null-pad on
    read through the schema-generation machinery."""
    from pyspark.sql import functions as F

    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_evolve")
    write_iceberg_native(spark.range(0, 3).coalesce(1), {"path": tbl, "mode": "create"})
    base_meta = json.loads(open(find_table_metadata(tbl)).read())
    base_last = base_meta["last-column-id"]

    evolved = spark.range(3, 5).withColumn("tag", F.lit("x")).coalesce(1)
    # without mergeSchema: loud refusal, no orphan files
    with pytest.raises(ValueError, match="mergeSchema"):
        write_iceberg_native(evolved, {"path": tbl, "mode": "append"})
    write_iceberg_native(
        evolved, {"path": tbl, "mode": "append", "mergeSchema": True}
    )
    meta = json.loads(open(find_table_metadata(tbl)).read())
    assert meta["last-column-id"] == base_last + 1
    cur = next(
        s for s in meta["schemas"]
        if s.get("schema-id", 0) == meta.get("current-schema-id", 0)
    )
    by_name = {f["name"]: f for f in cur["fields"]}
    assert by_name["id"]["id"] == 1          # existing id kept verbatim
    assert by_name["tag"]["id"] == base_last + 1
    assert by_name["tag"]["required"] is False

    back = read_iceberg_native(spark, {"path": tbl})
    rows = sorted((r["id"], r["tag"]) for r in back.collect())
    assert rows == [(0, None), (1, None), (2, None), (3, "x"), (4, "x")]
    # stats-keyed skipping on the NEW column only admits the new file
    skip = read_iceberg_native(
        spark, {"path": tbl,
                "dataFilter": {"key": "id", "op": ">=", "value": 3}})
    assert sorted(r["id"] for r in skip.collect()) == [3, 4]


def test_iceberg_alter_rename_drop(spark, tmp_path):
    """r6: metadata-only rename/drop — iceberg columns are field-id-keyed
    so one new metadata version suffices; files written BEFORE the rename
    resolve through their manifest's embedded write-time schema, and the
    name-mapping keeps both names per id."""
    from pyspark.sql import functions as F

    from pipeline_spark.sinks.iceberg_native import alter_iceberg_native
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_alter")
    df = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20)], "id long, tag string, score long"
    )
    write_iceberg_native(df.coalesce(1), {"path": tbl, "mode": "create"})
    res = alter_iceberg_native(spark, {
        "path": tbl, "renameColumn": {"tag": "label"}, "dropColumn": ["score"],
    })
    assert res == {"renamed": {"tag": "label"}, "dropped": ["score"]}
    meta = json.loads(open(find_table_metadata(tbl)).read())
    cur = next(
        s for s in meta["schemas"]
        if s.get("schema-id", 0) == meta.get("current-schema-id", 0)
    )
    assert [f["name"] for f in cur["fields"]] == ["id", "label"]
    mapping = json.loads(meta["properties"]["schema.name-mapping.default"])
    label_entry = next(e for e in mapping if "label" in e["names"])
    assert "tag" in label_entry["names"]  # both names resolve the id

    back = read_iceberg_native(spark, {"path": tbl})
    assert back.columns == ["id", "label"]
    assert sorted((r["id"], r["label"]) for r in back.collect()) == [
        (1, "x"), (2, "y"),
    ]
    # filters on the RENAMED column still push down / skip correctly
    skip = read_iceberg_native(
        spark, {"path": tbl,
                "dataFilter": {"key": "id", "op": "=", "value": 2}})
    assert [(r["id"], r["label"]) for r in skip.collect()] == [(2, "y")]

    # guards
    with pytest.raises(ValueError, match="unknown columns"):
        alter_iceberg_native(spark, {"path": tbl, "dropColumn": ["ghost"]})
    with pytest.raises(ValueError, match="already exist"):
        alter_iceberg_native(spark, {"path": tbl, "renameColumn": {"label": "id"}})

    # r7 (advisor): ALTER adds a NEW schema-id — the pre-alter schema
    # object survives verbatim so time travel shows the names of its day
    assert meta["current-schema-id"] != 0
    pre = next(s for s in meta["schemas"] if s.get("schema-id", 0) == 0)
    assert [f["name"] for f in pre["fields"]] == ["id", "tag", "score"]

    # chained rename label->title: the mapping must keep ALL historical
    # names (tag AND label) resolving the same field id
    alter_iceberg_native(spark, {"path": tbl, "renameColumn": {"label": "title"}})
    meta2 = json.loads(open(find_table_metadata(tbl)).read())
    mapping2 = json.loads(meta2["properties"]["schema.name-mapping.default"])
    title_entry = next(e for e in mapping2 if "title" in e["names"])
    assert {"tag", "label", "title"} <= set(title_entry["names"])
    assert len({s.get("schema-id", 0) for s in meta2["schemas"]}) == 3
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted((r["id"], r["title"]) for r in back.collect()) == [
        (1, "x"), (2, "y"),
    ]
    # an append after the alters PRESERVES schema history + mapping
    write_iceberg_native(
        spark.createDataFrame([(3, "z")], "id long, title string").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    meta3 = json.loads(open(find_table_metadata(tbl)).read())
    assert len(meta3["schemas"]) == 3
    mapping3 = json.loads(meta3["properties"]["schema.name-mapping.default"])
    assert {"tag", "label", "title"} <= set(
        next(e for e in mapping3 if "title" in e["names"])["names"]
    )
    assert read_iceberg_native(spark, {"path": tbl}).count() == 3


def test_iceberg_append_after_rename(spark, tmp_path):
    """Appending under the NEW logical names after a rename: new files
    carry the new parquet column names, old files keep the old ones, and
    one read stitches both through the id-keyed schema generations."""
    from pipeline_spark.sinks.iceberg_native import alter_iceberg_native

    tbl = str(tmp_path / "ice_alter_append")
    write_iceberg_native(
        spark.createDataFrame([(1, "x")], "id long, tag string").coalesce(1),
        {"path": tbl, "mode": "create"},
    )
    alter_iceberg_native(spark, {"path": tbl, "renameColumn": {"tag": "label"}})
    write_iceberg_native(
        spark.createDataFrame([(2, "y")], "id long, label string").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted((r["id"], r["label"]) for r in back.collect()) == [
        (1, "x"), (2, "y"),
    ]


def test_rest_catalog_merge_schema_evolution(spark, tmp_path):
    """mergeSchema on a REST table: the evolved schema rides the SAME
    optimistic commit as the snapshot (add-schema + set-current-schema
    -1), old files null-pad through the catalog read."""
    from pyspark.sql import functions as F

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        cat_p = {"catalog": {"uri": uri}, "table": "ns.ev",
                 "location": str(tmp_path / "rest_evolve")}
        write_iceberg_native(spark.range(0, 3).coalesce(1), {**cat_p, "mode": "create"})
        evolved = spark.range(3, 5).withColumn("tag", F.lit("x")).coalesce(1)
        with pytest.raises(ValueError, match="mergeSchema"):
            write_iceberg_native(evolved, {**cat_p, "mode": "append"})
        write_iceberg_native(
            evolved, {**cat_p, "mode": "append", "mergeSchema": True})
        meta = state["ev"]
        assert len(meta["schemas"]) == 2
        cur = next(
            s for s in meta["schemas"]
            if s.get("schema-id", 0) == meta["current-schema-id"]
        )
        assert [f["name"] for f in cur["fields"]] == ["id", "tag"]
        assert meta["last-column-id"] == 2
        back = read_iceberg_native(spark, {"catalog": {"uri": uri}, "table": "ns.ev"})
        rows = sorted((r["id"], r["tag"]) for r in back.collect())
        assert rows == [(0, None), (1, None), (2, None), (3, "x"), (4, "x")]
    finally:
        srv.shutdown()


def test_iceberg_rollback_to_snapshot(spark, tmp_path):
    """rollback_to_snapshot is metadata-only: current-snapshot-id flips,
    nothing is deleted, so the rollback can be rolled back."""
    from pipeline_spark.sinks.iceberg_native import rollback_iceberg_native
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_rb")
    write_iceberg_native(spark.range(0, 3).coalesce(1), {"path": tbl, "mode": "create"})
    meta = json.loads(open(find_table_metadata(tbl)).read())
    first = meta["current-snapshot-id"]
    write_iceberg_native(spark.range(3, 6).coalesce(1), {"path": tbl, "mode": "append"})
    meta = json.loads(open(find_table_metadata(tbl)).read())
    second = meta["current-snapshot-id"]

    res = rollback_iceberg_native(spark, {"path": tbl, "snapshotId": first})
    assert res == {"rolled_back_to": first, "changed": True}
    assert sorted(
        r["id"] for r in read_iceberg_native(spark, {"path": tbl}).collect()
    ) == [0, 1, 2]
    # roll forward again
    rollback_iceberg_native(spark, {"path": tbl, "snapshotId": second})
    assert read_iceberg_native(spark, {"path": tbl}).count() == 6
    with pytest.raises(ValueError, match="not in the table's history"):
        rollback_iceberg_native(spark, {"path": tbl, "snapshotId": 12345})


def test_iceberg_compact_zorder(spark, tmp_path):
    """r6: OPTIMIZE ZORDER on iceberg — every live file rewrites with
    Morton clustering; manifest bounds become tight on both z columns so
    dataFilter skipping prunes either dimension; content identical."""
    from pyspark.sql import functions as F

    from pipeline_spark.sinks.iceberg_native import compact_iceberg_native

    tbl = str(tmp_path / "ice_zorder")
    n = 4096
    df = (
        spark.range(n)
        .withColumn("a", (F.col("id") * 2654435761 % 10007) % 1000)
        .withColumn("b", (F.col("id") * 40503 % 9973) % 1000)
        .drop("id")
    )
    write_iceberg_native(df.repartition(8), {"path": tbl, "mode": "create"})
    before = read_iceberg_native(
        spark, {"path": tbl, "dataFilter": {"key": "b", "op": "<=", "value": 60}}
    )
    assert len(before.inputFiles()) == 8  # random layout admits all

    res = compact_iceberg_native(
        spark, {"path": tbl, "zOrderBy": ["a", "b"], "targetFileBytes": 4096}
    )
    assert res["compacted_files"] == 8 and res["new_files"] >= 4
    back = read_iceberg_native(spark, {"path": tbl})
    assert back.count() == n
    for col in ("a", "b"):
        pruned = read_iceberg_native(
            spark,
            {"path": tbl, "dataFilter": {"key": col, "op": "<=", "value": 60}},
        )
        assert len(pruned.inputFiles()) < res["new_files"], col
        assert pruned.count() == df.where(F.col(col) <= 60).count()


def test_iceberg_branches_tags_and_ref_reads(spark, tmp_path):
    """r6: snapshot refs — toBranch writes move only the branch ref
    (main untouched, WAP-style); ref reads resolve branch/tag heads;
    tags are immutable bookmarks that survive expire_snapshots."""
    from pipeline_spark.sinks.iceberg_native import (
        expire_iceberg_native,
        tag_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_refs")
    write_iceberg_native(spark.range(0, 3).coalesce(1), {"path": tbl, "mode": "create"})

    # branch fork: audit writes land on the branch, main stays put
    write_iceberg_native(
        spark.range(100, 103).coalesce(1),
        {"path": tbl, "mode": "append", "toBranch": "audit"},
    )
    main = read_iceberg_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in main.collect()) == [0, 1, 2]
    audit = read_iceberg_native(spark, {"path": tbl, "ref": "audit"})
    assert sorted(r["id"] for r in audit.collect()) == [0, 1, 2, 100, 101, 102]
    # second branch append chains from the BRANCH head
    write_iceberg_native(
        spark.range(200, 201).coalesce(1),
        {"path": tbl, "mode": "append", "toBranch": "audit"},
    )
    audit = read_iceberg_native(spark, {"path": tbl, "ref": "audit"})
    assert audit.count() == 7
    assert read_iceberg_native(spark, {"path": tbl}).count() == 3

    # a main write after branch writes keeps the branch ref intact
    write_iceberg_native(
        spark.range(3, 5).coalesce(1), {"path": tbl, "mode": "append"})
    assert read_iceberg_native(spark, {"path": tbl}).count() == 5
    assert read_iceberg_native(spark, {"path": tbl, "ref": "audit"}).count() == 7

    # tag the pre-append main snapshot, then expire: the tag protects it
    meta = json.loads(open(find_table_metadata(tbl)).read())
    first_snap = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])[0]
    res = tag_iceberg_native(
        spark, {"path": tbl, "tagName": "v0",
                "snapshotId": first_snap["snapshot-id"]})
    assert res["type"] == "tag"
    expire_iceberg_native(spark, {"path": tbl, "retainLast": 1})
    tagged = read_iceberg_native(spark, {"path": tbl, "ref": "v0"})
    assert sorted(r["id"] for r in tagged.collect()) == [0, 1, 2]
    with pytest.raises(ValueError, match="unknown ref"):
        read_iceberg_native(spark, {"path": tbl, "ref": "ghost"})


def test_iceberg_metadata_tables(spark, tmp_path):
    """snapshots/history/refs/manifests/files metadata tables (the
    runtime's SELECT * FROM t.<meta> family) built from the native
    metadata walk."""
    from pipeline_spark.sinks.iceberg_native import (
        delete_iceberg_native,
        tag_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import (
        read_iceberg_metadata_table,
    )

    tbl = str(tmp_path / "ice_meta_t")
    write_iceberg_native(spark.range(0, 5).coalesce(1), {"path": tbl, "mode": "create"})
    write_iceberg_native(spark.range(5, 8).coalesce(1), {"path": tbl, "mode": "append"})
    delete_iceberg_native(
        spark, {"path": tbl, "where": [{"key": "id", "op": "=", "value": 3}]})
    tag_iceberg_native(spark, {"path": tbl, "tagName": "train-v1"})

    snaps = read_iceberg_metadata_table(
        spark, {"path": tbl, "metadataTable": "snapshots"}).collect()
    assert len(snaps) == 3
    # create records as overwrite in the summary (the writer's convention)
    assert [r["operation"] for r in snaps] == ["overwrite", "append", "delete"]
    assert all(r["committed_at"] is not None for r in snaps)

    hist = read_iceberg_metadata_table(
        spark, {"path": tbl, "metadataTable": "history"}).collect()
    assert len(hist) == 3 and hist[-1]["is_current"]

    refs = read_iceberg_metadata_table(
        spark, {"path": tbl, "metadataTable": "refs"}).collect()
    by_name = {r["name"]: r for r in refs}
    assert by_name["train-v1"]["type"] == "tag"
    assert by_name["main"]["snapshot_id"] == snaps[-1]["snapshot_id"]

    files = read_iceberg_metadata_table(
        spark, {"path": tbl, "metadataTable": "files"}).collect()
    contents = sorted(r["content"] for r in files)
    assert contents == [0, 0, 1]  # two data files + one position delete
    assert sum(r["record_count"] for r in files if r["content"] == 0) == 8

    mans = read_iceberg_metadata_table(
        spark, {"path": tbl, "metadataTable": "manifests"}).collect()
    assert len(mans) >= 2 and all(r["length"] > 0 for r in mans)

    import pytest as _p
    with _p.raises(ValueError, match="unknown metadataTable"):
        read_iceberg_metadata_table(
            spark, {"path": tbl, "metadataTable": "bogus"})


def test_iceberg_compact_migrate_schema(spark, tmp_path):
    """r6: schema-migrating compaction — a table whose live files span a
    rename + an added column rewrites EVERY file under the current
    schema in one replace snapshot; the post-compact table is no longer
    evolved (plain compaction works again) and reads identically."""
    from pyspark.sql import functions as F

    from pipeline_spark.sinks.iceberg_native import (
        alter_iceberg_native,
        compact_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import plan_files

    tbl = str(tmp_path / "ice_migrate")
    write_iceberg_native(
        spark.createDataFrame([(1, "x"), (2, "y")], "id long, tag string").coalesce(1),
        {"path": tbl, "mode": "create"},
    )
    alter_iceberg_native(spark, {"path": tbl, "renameColumn": {"tag": "label"}})
    write_iceberg_native(
        spark.createDataFrame([(3, "z", 9)], "id long, label string, score long").coalesce(1),
        {"path": tbl, "mode": "append", "mergeSchema": True},
    )
    data, _dels, _m = plan_files(tbl)
    assert any(d.get("renames") or d.get("absent") for d in data)  # evolved

    res = compact_iceberg_native(
        spark, {"path": tbl, "targetFileBytes": 1 << 30, "migrateSchema": True}
    )
    assert res["compacted_files"] == 2 and res["new_files"] == 1

    back = read_iceberg_native(spark, {"path": tbl})
    rows = sorted((r["id"], r["label"], r["score"]) for r in back.collect())
    assert rows == [(1, "x", None), (2, "y", None), (3, "z", 9)]
    # the upgraded files ARE current-generation now: no renames/absent,
    # and plain bin-pack compaction no longer refuses
    data, _dels, _m = plan_files(tbl)
    assert not any(d.get("renames") or d.get("absent") or d.get("dropped") for d in data)
    res = compact_iceberg_native(spark, {"path": tbl, "targetFileBytes": 1 << 30})
    assert res["compacted_files"] == 0  # single file, nothing to pack
    # stats skipping works on the post-migration files
    skip = read_iceberg_native(
        spark, {"path": tbl, "dataFilter": {"key": "score", "op": ">=", "value": 5}})
    assert [(r["id"], r["score"]) for r in skip.collect()] == [(3, 9)]


def test_iceberg_partition_spec_evolution(spark, tmp_path):
    """r7 (spec §Partition Evolution): an append under a DIFFERENT spec
    with evolvePartitionSpec adds the new spec under a fresh spec-id and
    fresh partition field-ids; old files keep their layout (zero data
    motion), reads stitch both generations, partitionFilter prunes each
    generation only by the fields its files actually carry, and later
    appends follow the NEW default spec."""
    from pyspark.sql import functions as F

    from pipeline_spark.sinks.iceberg_native import compact_iceberg_native
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_spec_ev")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(8)],
        "id long, grp string",
    )
    write_iceberg_native(
        df.coalesce(1), {"path": tbl, "mode": "create", "partitionBy": ["grp"]}
    )
    # mismatched spec without the flag still refuses
    with pytest.raises(ValueError, match="evolvePartitionSpec"):
        write_iceberg_native(
            spark.createDataFrame([(100, "c")], "id long, grp string"),
            {"path": tbl, "mode": "append", "partitionBy": ["bucket(4, id)"]},
        )
    write_iceberg_native(
        spark.createDataFrame(
            [(100 + i, "c") for i in range(4)], "id long, grp string"
        ).coalesce(1),
        {"path": tbl, "mode": "append", "partitionBy": ["bucket(4, id)"],
         "evolvePartitionSpec": True},
    )
    meta = json.loads(open(find_table_metadata(tbl)).read())
    specs = meta["partition-specs"]
    assert [sp["spec-id"] for sp in specs] == [0, 1]
    assert meta["default-spec-id"] == 1
    # fresh partition field-ids continue past the old spec's
    assert specs[0]["fields"][0]["field-id"] == 1000
    assert specs[1]["fields"][0]["field-id"] == 1001
    assert meta["last-partition-id"] == 1001

    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in back.collect()) == (
        list(range(8)) + [100, 101, 102, 103]
    )
    # pruning by the OLD field touches only old-generation files; files
    # that predate the field are kept (Iceberg's rule)
    by_grp = read_iceberg_native(
        spark, {"path": tbl, "partitionFilter": {"grp": "a"}})
    assert sorted(r["id"] for r in by_grp.collect()) == [
        0, 2, 4, 6, 100, 101, 102, 103,
    ]

    # a later append follows the NEW default spec without the flag
    write_iceberg_native(
        spark.createDataFrame([(200, "d")], "id long, grp string").coalesce(1),
        {"path": tbl, "mode": "append", "partitionBy": ["bucket(4, id)"]},
    )
    assert read_iceberg_native(spark, {"path": tbl}).count() == 13
    meta = json.loads(open(find_table_metadata(tbl)).read())
    assert [sp["spec-id"] for sp in meta["partition-specs"]] == [0, 1]

    # compaction on a multi-spec table works PER GENERATION (r7): every
    # file rewrites under its own spec's layout, generations never
    # cross.  Duplicate the 100-103 append first — same ids land in the
    # same buckets, so each touched bucket has 2 files and bins fire.
    write_iceberg_native(
        spark.createDataFrame(
            [(100 + i, "c") for i in range(4)], "id long, grp string"
        ).coalesce(1),
        {"path": tbl, "mode": "append", "partitionBy": ["bucket(4, id)"]},
    )
    rep = compact_iceberg_native(
        spark, {"path": tbl, "targetFileBytes": 1 << 30})
    assert rep["compacted_files"] >= 2 and rep["new_files"] >= 1
    meta = json.loads(open(find_table_metadata(tbl)).read())
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    from pipeline_spark.functions.avroocf import read_ocf_file
    _, mfs = read_ocf_file(snap["manifest-list"])
    assert {m["partition_spec_id"] for m in mfs} == {0, 1}
    dup = sorted([100, 101, 102, 103] * 2)
    assert sorted(
        r["id"] for r in read_iceberg_native(spark, {"path": tbl}).collect()
    ) == list(range(8)) + dup + [200]
    # per-generation pruning still intact after the per-spec rewrite
    by_grp = read_iceberg_native(
        spark, {"path": tbl, "partitionFilter": {"grp": "a"}})
    assert sorted(r["id"] for r in by_grp.collect()) == (
        [0, 2, 4, 6] + dup + [200]
    )


def test_rest_catalog_partition_spec_evolution(spark, tmp_path):
    """r7: the same evolution through a REST catalog — add-spec +
    set-default-spec ride the optimistic commit."""
    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_spec_ev")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.se", "location": loc}
        write_iceberg_native(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "id long, grp string"
            ).coalesce(1),
            {**cat_p, "mode": "create", "partitionBy": ["grp"]},
        )
        write_iceberg_native(
            spark.createDataFrame([(10, "c")], "id long, grp string")
            .coalesce(1),
            {**cat_p, "mode": "append", "partitionBy": ["bucket(4, id)"],
             "evolvePartitionSpec": True},
        )
        assert [sp["spec-id"] for sp in state["se"]["partition-specs"]] == [0, 1]
        assert state["se"]["default-spec-id"] == 1
        back = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.se"})
        assert sorted(r["id"] for r in back.collect()) == [1, 2, 10]
    finally:
        srv.shutdown()


def test_iceberg_equality_delete_write(spark, tmp_path):
    """r7: equality-delete WRITE (spec content=2) — delete-by-key with
    ZERO data-file scan.  Strict sequence rule: rows appended AFTER the
    delete with the same key survive (CDC re-insert semantics); compact
    materializes the delete and drops the delete file."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline
    from pipeline_spark.sinks.iceberg_native import (
        compact_iceberg_native,
        equality_delete_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import plan_files

    tbl = str(tmp_path / "ice_eqdel")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, v string"
    )
    write_iceberg_native(df.coalesce(1), {"path": tbl, "mode": "create"})

    res = equality_delete_iceberg_native(
        spark, {"path": tbl, "values": [{"id": 2}, {"id": 4}, {"id": 99}]}
    )
    assert res["delete_files"] == 1
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in back.collect()) == [1, 3]

    # re-insert AFTER the delete: strictly-below sequence rule keeps it
    write_iceberg_native(
        spark.createDataFrame([(2, "b2")], "id long, v string").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [
        (1, "a"), (2, "b2"), (3, "c"),
    ]

    # DataFrame keys via the module dispatch (the CDC shape)
    keys = spark.createDataFrame([(3,)], "id long")
    outs = run_pipeline(spark, parse_config(f"""
sinks:
  - name: d
    module: iceberg
    inputs: [keys]
    parameters: {{path: {tbl}, mode: equalityDelete}}
"""), inputs={"keys": keys})
    del outs
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [
        (1, "a"), (2, "b2"),
    ]

    # compaction materializes the equality deletes; no delete files remain
    res = compact_iceberg_native(spark, {"path": tbl, "targetFileBytes": 1 << 30})
    data, dels, _m = plan_files(tbl)
    assert not dels
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [
        (1, "a"), (2, "b2"),
    ]

    # unknown identifier column refuses
    with pytest.raises(ValueError, match="not in the"):
        equality_delete_iceberg_native(
            spark, {"path": tbl, "values": [{"ghost": 1}]}
        )


def test_iceberg_evolved_mor_delete_read_compact(spark, tmp_path):
    """r7 (VERDICT r6 ask #5): row-level deletes on a schema-EVOLVED
    table — position-delete planning, the MOR read, and delete-
    materializing compaction all route through the migrating scan.
    The delete predicate addresses CURRENT column names, matches rows
    living in OLD-generation files (whose parquet columns still carry
    the pre-rename names), and survives a migrate-compact round-trip."""
    from pipeline_spark.sinks.iceberg_native import (
        alter_iceberg_native,
        compact_iceberg_native,
        delete_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import plan_files

    tbl = str(tmp_path / "ice_ev_mor")
    write_iceberg_native(
        spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "z")], "id long, tag string"
        ).coalesce(1),
        {"path": tbl, "mode": "create"},
    )
    alter_iceberg_native(spark, {"path": tbl, "renameColumn": {"tag": "label"}})
    write_iceberg_native(
        spark.createDataFrame(
            [(4, "w", 9), (5, "v", 7)], "id long, label string, score long"
        ).coalesce(1),
        {"path": tbl, "mode": "append", "mergeSchema": True},
    )
    data, _dels, _m = plan_files(tbl)
    assert any(d.get("renames") or d.get("absent") for d in data)  # evolved

    # delete by the RENAMED name, hitting a row in an OLD-generation file
    res = delete_iceberg_native(
        spark, {"path": tbl, "where": {"key": "label", "op": "=", "value": "y"}}
    )
    assert res["deleted_rows"] == 1
    # and by a column ABSENT from the old generation (null there -> no match)
    res = delete_iceberg_native(
        spark, {"path": tbl, "where": {"key": "score", "op": "=", "value": 7}}
    )
    assert res["deleted_rows"] == 1

    # MOR read over evolved files + delete files
    back = read_iceberg_native(spark, {"path": tbl})
    rows = sorted((r["id"], r["label"], r["score"]) for r in back.collect())
    assert rows == [(1, "x", None), (3, "z", None), (4, "w", 9)]

    # migrate-compact materializes the deletes and sheds the evolution
    res = compact_iceberg_native(
        spark, {"path": tbl, "targetFileBytes": 1 << 30, "migrateSchema": True}
    )
    assert res["materialized_delete_files"] == 2
    data, dels, _m = plan_files(tbl)
    assert not dels
    assert not any(
        d.get("renames") or d.get("absent") or d.get("dropped") for d in data
    )
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted(
        (r["id"], r["label"], r["score"]) for r in back.collect()
    ) == rows


def test_iceberg_rewrite_manifests(spark, tmp_path):
    """r7 (spec §Manifests; RewriteManifestsSparkAction): N appends leave
    N manifests; rewrite_manifests merges them into ONE EXISTING-status
    manifest with original sequence numbers — metadata only, zero data
    motion (data file paths unchanged), time travel intact, and
    stats-based file skipping still works off the merged manifest."""
    from pipeline_spark.functions.avroocf import read_ocf_file
    from pipeline_spark.sinks.iceberg_native import (
        rewrite_manifests_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_rwm")
    for lo in (0, 10, 20, 30):
        write_iceberg_native(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(10)],
                "id long, val string",
            ).coalesce(1),
            {"path": tbl, "mode": "create" if lo == 0 else "append"},
        )

    def _manifest_count():
        meta = json.loads(open(find_table_metadata(tbl)).read())
        snap = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, mfs = read_ocf_file(snap["manifest-list"])
        return meta, list(mfs)

    meta, mfs = _manifest_count()
    assert len(mfs) == 4
    pre_rewrite_snap = meta["current-snapshot-id"]
    pre_paths = {
        os.path.normpath(e["data_file"]["file_path"])
        for mf in mfs
        for e in read_ocf_file(mf["manifest_path"])[1]
    }

    # dryRun reports without committing
    rep = rewrite_manifests_iceberg_native(
        spark, {"path": tbl, "dryRun": True})
    assert rep == {"rewritten_manifests": 4, "created_manifests": 1,
                   "kept_manifests": 0}
    assert len(_manifest_count()[1]) == 4

    rep = rewrite_manifests_iceberg_native(spark, {"path": tbl})
    assert rep["rewritten_manifests"] == 4 and rep["created_manifests"] == 1
    meta, mfs = _manifest_count()
    assert len(mfs) == 1
    assert mfs[0]["existing_files_count"] == 4
    assert mfs[0]["added_files_count"] == 0
    # original data sequence numbers survive the merge (v2 rule)
    _, entries = read_ocf_file(mfs[0]["manifest_path"])
    entries = list(entries)
    assert sorted(e["sequence_number"] for e in entries) == [1, 2, 3, 4]
    assert all(e["status"] == 0 for e in entries)
    # zero data motion
    post_paths = {
        os.path.normpath(e["data_file"]["file_path"]) for e in entries
    }
    assert post_paths == pre_paths

    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in back.collect()) == list(range(40))
    # time travel to the pre-rewrite snapshot still plans its manifests
    old = read_iceberg_native(
        spark, {"path": tbl, "snapshotId": pre_rewrite_snap})
    assert old.count() == 40
    # bounds-based skipping still prunes off the merged manifest: stats
    # were carried verbatim, so only the last append's file is planned
    skipped = read_iceberg_native(spark, {"path": tbl, "dataFilter": [
        {"key": "id", "op": ">=", "value": 35},
    ]})
    assert len(skipped.inputFiles()) == 1
    assert sorted(r["id"] for r in skipped.collect()) == [35, 36, 37, 38, 39]
    # idempotent: a second rewrite finds one manifest and no-ops
    rep2 = rewrite_manifests_iceberg_native(spark, {"path": tbl})
    assert rep2["created_manifests"] == 0 and rep2["kept_manifests"] == 1


def test_iceberg_rewrite_manifests_grouped_generations(spark, tmp_path):
    """Merging respects generations: appends under an evolved partition
    spec merge per spec-id, never across — each merged manifest keeps
    its generation's embedded spec/schema verbatim."""
    from pipeline_spark.functions.avroocf import read_ocf_file
    from pipeline_spark.sinks.iceberg_native import (
        rewrite_manifests_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_rwm_gen")
    for lo in (0, 10):
        write_iceberg_native(
            spark.createDataFrame(
                [(lo + i, "a" if i % 2 == 0 else "b") for i in range(4)],
                "id long, grp string",
            ).coalesce(1),
            {"path": tbl, "mode": "create" if lo == 0 else "append",
             "partitionBy": ["grp"]},
        )
    for lo in (20, 30):
        write_iceberg_native(
            spark.createDataFrame(
                [(lo + i, "c") for i in range(4)], "id long, grp string"
            ).coalesce(1),
            {"path": tbl, "mode": "append", "partitionBy": ["bucket(4, id)"],
             "evolvePartitionSpec": lo == 20},
        )
    rep = rewrite_manifests_iceberg_native(spark, {"path": tbl})
    assert rep["rewritten_manifests"] == 4 and rep["created_manifests"] == 2
    meta = json.loads(open(find_table_metadata(tbl)).read())
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, mfs = read_ocf_file(snap["manifest-list"])
    assert sorted(m["partition_spec_id"] for m in mfs) == [0, 1]
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in back.collect()) == [
        0, 1, 2, 3, 10, 11, 12, 13, 20, 21, 22, 23, 30, 31, 32, 33,
    ]
    # old-spec pruning still works post-merge (new-gen files kept per rule)
    by_grp = read_iceberg_native(
        spark, {"path": tbl, "partitionFilter": {"grp": "a"}})
    assert sorted(r["id"] for r in by_grp.collect()) == [
        0, 2, 10, 12, 20, 21, 22, 23, 30, 31, 32, 33,
    ]


def test_rest_catalog_rewrite_manifests(spark, tmp_path):
    """r7: rewrite_manifests through a REST catalog — the replace
    snapshot rides one optimistic assert-ref commit."""
    from pipeline_spark.functions.avroocf import read_ocf_file
    from pipeline_spark.sinks.iceberg_native import (
        rewrite_manifests_iceberg_native,
    )

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_rwm")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.rwm", "location": loc}
        for lo in (0, 10, 20):
            write_iceberg_native(
                spark.createDataFrame(
                    [(lo + i,) for i in range(5)], "id long"
                ).coalesce(1),
                {**cat_p, "mode": "create" if lo == 0 else "append"},
            )
        rep = rewrite_manifests_iceberg_native(spark, cat_p)
        assert rep["rewritten_manifests"] == 3 and rep["created_manifests"] == 1
        meta = state["rwm"]
        snap = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        assert snap["summary"]["operation"] == "replace"
        _, mfs = read_ocf_file(snap["manifest-list"])
        assert len(list(mfs)) == 1
        back = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.rwm"})
        assert sorted(r["id"] for r in back.collect()) == (
            list(range(5)) + list(range(10, 15)) + list(range(20, 25))
        )
    finally:
        srv.shutdown()


def test_iceberg_remove_orphans(spark, tmp_path):
    """r7: remove_orphan_files deletes crashed-writer leftovers that no
    snapshot references — age-gated so in-flight staged files survive —
    and never touches reachable data, metadata history, or the hint."""
    from pipeline_spark.sinks.iceberg_native import (
        remove_orphans_iceberg_native,
    )

    tbl = str(tmp_path / "ice_orph")
    write_iceberg_native(
        spark.createDataFrame([(i,) for i in range(6)], "id long")
        .coalesce(1),
        {"path": tbl, "mode": "create"},
    )
    write_iceberg_native(
        spark.createDataFrame([(10,)], "id long").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    old_orphan = os.path.join(tbl, "data", "orphan-stale.parquet")
    with open(old_orphan, "wb") as fh:
        fh.write(b"not really parquet")
    meta_orphan = os.path.join(tbl, "metadata", "deadbeef-m9.avro")
    with open(meta_orphan, "wb") as fh:
        fh.write(b"stale manifest")
    stale = time.time() - 10 * 24 * 3600
    os.utime(old_orphan, (stale, stale))
    os.utime(meta_orphan, (stale, stale))
    fresh_orphan = os.path.join(tbl, "data", "inflight.parquet")
    with open(fresh_orphan, "wb") as fh:
        fh.write(b"staged by a live writer")

    rep = remove_orphans_iceberg_native(
        spark, {"path": tbl, "dryRun": True})
    assert rep["removed_files"] == 2
    assert os.path.exists(old_orphan)

    rep = remove_orphans_iceberg_native(spark, {"path": tbl})
    assert rep["removed_files"] == 2 and rep["freed_bytes"] > 0
    assert not os.path.exists(old_orphan)
    assert not os.path.exists(meta_orphan)
    assert os.path.exists(fresh_orphan)  # age gate
    # aggressive sweep takes the fresh one too once olderThanMs: 0
    # (plus Spark's unreferenced _SUCCESS/.crc write markers)
    rep = remove_orphans_iceberg_native(
        spark, {"path": tbl, "olderThanMs": 0})
    assert rep["removed_files"] >= 1
    assert not os.path.exists(fresh_orphan)
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in back.collect()) == [0, 1, 2, 3, 4, 5, 10]


def test_iceberg_rewrite_manifests_mor(spark, tmp_path):
    """Rewrite on a merge-on-read table: data manifests merge, the delete
    manifest passes through, and preserved data sequence numbers keep the
    position delete applying to exactly the files it predates."""
    from pipeline_spark.sinks.iceberg_native import (
        delete_iceberg_native,
        rewrite_manifests_iceberg_native,
    )

    tbl = str(tmp_path / "ice_rwm_mor")
    for lo in (0, 10):
        write_iceberg_native(
            spark.createDataFrame(
                [(lo + i,) for i in range(5)], "id long"
            ).coalesce(1),
            {"path": tbl, "mode": "create" if lo == 0 else "append"},
        )
    # two deletes -> two delete manifests: those merge too (content=1)
    delete_iceberg_native(
        spark, {"path": tbl, "where": [{"key": "id", "op": "=", "value": 1}]})
    delete_iceberg_native(
        spark, {"path": tbl, "where": [{"key": "id", "op": "=", "value": 12}]})
    rep = rewrite_manifests_iceberg_native(spark, {"path": tbl})
    assert rep["created_manifests"] >= 1
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in back.collect()) == [
        0, 2, 3, 4, 10, 11, 13, 14,
    ]
    # rows appended AFTER the rewrite land above every delete's seq
    write_iceberg_native(
        spark.createDataFrame([(1,)], "id long").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    assert sorted(
        r["id"] for r in read_iceberg_native(spark, {"path": tbl}).collect()
    ) == [0, 1, 2, 3, 4, 10, 11, 13, 14]


def test_rest_catalog_remove_orphans(spark, tmp_path):
    """r7: remove_orphan_files on a catalog table — the reachable walk
    runs off the catalog's metadata; cleanup is client-side against the
    staging location and commits nothing."""
    from pipeline_spark.sinks.iceberg_native import (
        remove_orphans_iceberg_native,
    )

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_orph")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.orph", "location": loc}
        write_iceberg_native(
            spark.createDataFrame([(1,), (2,)], "id long").coalesce(1),
            {**cat_p, "mode": "create"},
        )
        orphan = os.path.join(loc, "data", "crashed-writer.parquet")
        with open(orphan, "wb") as fh:
            fh.write(b"never committed")
        stale = time.time() - 10 * 24 * 3600
        os.utime(orphan, (stale, stale))
        rep = remove_orphans_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.orph"})
        assert rep["removed_files"] >= 1
        assert not os.path.exists(orphan)
        back = read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.orph"})
        assert sorted(r["id"] for r in back.collect()) == [1, 2]
    finally:
        srv.shutdown()


def test_iceberg_maintenance_lifecycle(spark, tmp_path):
    """r7: the full maintenance triad composes — micro-batch appends,
    rewrite_manifests (planning tax), expire_snapshots (storage reclaim,
    drops the superseded tiny manifests), remove_orphan_files (crash
    leftovers) — and the table reads identically after every step."""
    from pipeline_spark.functions.avroocf import read_ocf_file
    from pipeline_spark.sinks.iceberg_native import (
        expire_iceberg_native,
        remove_orphans_iceberg_native,
        rewrite_manifests_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_life")
    expected = []
    for lo in (0, 10, 20, 30, 40):
        write_iceberg_native(
            spark.createDataFrame(
                [(lo + i,) for i in range(5)], "id long"
            ).coalesce(1),
            {"path": tbl, "mode": "create" if lo == 0 else "append"},
        )
        expected += [lo + i for i in range(5)]

    def _read_ids():
        return sorted(
            r["id"]
            for r in read_iceberg_native(spark, {"path": tbl}).collect()
        )

    rep = rewrite_manifests_iceberg_native(spark, {"path": tbl})
    assert rep["rewritten_manifests"] == 5
    assert _read_ids() == expected

    n_avro_before = len(
        [f for f in os.listdir(os.path.join(tbl, "metadata"))
         if f.endswith(".avro")])
    rep = expire_iceberg_native(spark, {"path": tbl, "retainLast": 1})
    assert rep["expired_snapshots"] == 5  # 5 appends; rewrite snap retained
    assert rep["removed_manifests"] >= 5  # the superseded tiny manifests
    n_avro_after = len(
        [f for f in os.listdir(os.path.join(tbl, "metadata"))
         if f.endswith(".avro")])
    assert n_avro_after < n_avro_before
    assert _read_ids() == expected

    rep = remove_orphans_iceberg_native(
        spark, {"path": tbl, "olderThanMs": 0})
    assert _read_ids() == expected  # sweep never touches reachable state


def test_iceberg_bloom_table_property(spark, tmp_path):
    """r7: the spec's own per-column bloom property
    (write.parquet.bloom-filter-enabled.column.X, set at create via
    `properties`) persists in table metadata and every APPEND honors it
    without re-passing any param — the table owns its write contract."""
    import glob

    from pipeline_spark.sources.iceberg_native import find_table_metadata

    df = spark.range(100_000).selectExpr(
        "id", "cast(id as string) AS k"
    ).coalesce(1)
    plain = str(tmp_path / "plain")
    df.write.parquet(plain)
    base = os.path.getsize(glob.glob(os.path.join(plain, "*.parquet"))[0])

    tbl = str(tmp_path / "ice_bloomprop")
    write_iceberg_native(df, {
        "path": tbl, "mode": "create",
        "properties": {
            "write.parquet.bloom-filter-enabled.column.k": "true"},
    })
    meta = json.loads(open(find_table_metadata(tbl)).read())
    assert meta["properties"][
        "write.parquet.bloom-filter-enabled.column.k"] == "true"
    # append WITHOUT any bloom param: the table property drives it
    write_iceberg_native(df, {"path": tbl, "mode": "append"})
    sizes = sorted(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(tbl, "data", "**", "*.parquet"),
                           recursive=True)
    )
    assert len(sizes) == 2 and all(s > base + 500_000 for s in sizes)


def test_iceberg_sort_order(spark, tmp_path):
    """r7 (spec §Sorting): sortBy clusters every data file on the sort
    columns via sortWithinPartitions (no extra shuffle), records the
    sort order under order-id 1 as the table default, and appends
    WITHOUT the param inherit it — files stay clustered, so Appendix-C
    bounds stay tight."""
    import glob

    import pyarrow.parquet as pq

    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_sorted")
    df = spark.createDataFrame(
        [((i * 37) % 100, f"v{i}") for i in range(100)], "k long, v string"
    ).coalesce(1)
    write_iceberg_native(df, {"path": tbl, "mode": "create", "sortBy": ["k"]})
    meta = json.loads(open(find_table_metadata(tbl)).read())
    assert meta["default-sort-order-id"] == 1
    order = next(
        o for o in meta["sort-orders"] if o["order-id"] == 1)
    assert order["fields"][0]["direction"] == "asc"
    assert order["fields"][0]["transform"] == "identity"

    def _all_files_sorted():
        for f in glob.glob(
            os.path.join(tbl, "data", "**", "*.parquet"), recursive=True
        ):
            ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
            if ks != sorted(ks):
                return False
        return True

    assert _all_files_sorted()
    # append with no param: the table's default order drives the sort
    write_iceberg_native(
        spark.createDataFrame(
            [((i * 53) % 100, "x") for i in range(100)], "k long, v string"
        ).coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    meta = json.loads(open(find_table_metadata(tbl)).read())
    assert meta["default-sort-order-id"] == 1  # history preserved
    assert _all_files_sorted()
    assert read_iceberg_native(spark, {"path": tbl}).count() == 200
    with pytest.raises(ValueError, match="sortBy columns"):
        write_iceberg_native(
            df, {"path": str(tmp_path / "bad"), "mode": "create",
                 "sortBy": ["nope"]})


def test_iceberg_compact_preserves_sort_order(spark, tmp_path):
    """r7: compaction re-clusters rewritten bins on the table's default
    sort order — a rewrite must not silently un-tighten the bounds the
    sorted write contract bought."""
    import glob

    import pyarrow.parquet as pq

    from pipeline_spark.sinks.iceberg_native import compact_iceberg_native

    tbl = str(tmp_path / "ice_sortcomp")
    for lo in (0, 1):
        write_iceberg_native(
            spark.createDataFrame(
                [((i * 37 + lo) % 100, lo) for i in range(50)],
                "k long, b long",
            ).coalesce(1),
            {"path": tbl, "mode": "create" if lo == 0 else "append",
             **({"sortBy": ["k"]} if lo == 0 else {})},
        )
    rep = compact_iceberg_native(
        spark, {"path": tbl, "targetFileBytes": 1 << 30})
    assert rep["compacted_files"] == 2 and rep["new_files"] == 1
    for f in glob.glob(
        os.path.join(tbl, "data", "compact-*", "**", "*.parquet"),
        recursive=True,
    ):
        ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks), f
    assert read_iceberg_native(spark, {"path": tbl}).count() == 100


def test_iceberg_alter_sort_order(spark, tmp_path):
    """r7: ALTER ... sortBy flips the table's write order in one
    metadata commit — fresh order-id, default flipped, existing files
    keep their layout; later paramless appends follow the NEW order;
    sortBy: [] resets to unsorted; works through REST too."""
    import glob

    import pyarrow.parquet as pq

    from pipeline_spark.sinks.iceberg_native import alter_iceberg_native
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_altsort")
    write_iceberg_native(
        spark.createDataFrame(
            [((i * 37) % 100, (i * 53) % 100) for i in range(100)],
            "a long, b long",
        ).coalesce(1),
        {"path": tbl, "mode": "create", "sortBy": ["a"]},
    )
    rep = alter_iceberg_native(spark, {"path": tbl, "sortBy": ["b"]})
    assert rep["sort_by"] == ["b"]
    meta = json.loads(open(find_table_metadata(tbl)).read())
    assert meta["default-sort-order-id"] == 2
    assert [o["order-id"] for o in meta["sort-orders"]] == [0, 1, 2]
    with pytest.raises(ValueError, match="not in schema"):
        alter_iceberg_native(spark, {"path": tbl, "sortBy": ["zz"]})
    with pytest.raises(ValueError, match="own alter call"):
        alter_iceberg_native(
            spark, {"path": tbl, "sortBy": ["b"],
                    "renameColumn": {"a": "c"}})

    before = set(glob.glob(
        os.path.join(tbl, "data", "**", "*.parquet"), recursive=True))
    write_iceberg_native(
        spark.createDataFrame(
            [((i * 37) % 100, (i * 53) % 100) for i in range(100)],
            "a long, b long",
        ).coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    new = set(glob.glob(
        os.path.join(tbl, "data", "**", "*.parquet"), recursive=True,
    )) - before
    for f in new:
        bs = pq.read_table(f, columns=["b"]).column("b").to_pylist()
        assert bs == sorted(bs), f

    rep = alter_iceberg_native(spark, {"path": tbl, "sortBy": []})
    assert rep["sort_by"] == []
    meta = json.loads(open(find_table_metadata(tbl)).read())
    assert meta["default-sort-order-id"] == 0
    assert read_iceberg_native(spark, {"path": tbl}).count() == 200

    # REST: add-sort-order + set-default-sort-order ride one commit
    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_altsort")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.aso", "location": loc}
        write_iceberg_native(
            spark.createDataFrame([(1, 2)], "a long, b long").coalesce(1),
            {**cat_p, "mode": "create"},
        )
        alter_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.aso",
                    "sortBy": ["b"]})
        assert state["aso"]["default-sort-order-id"] == (
            state["aso"]["sort-orders"][-1]["order-id"])
    finally:
        srv.shutdown()


def test_iceberg_one_commit_upsert(spark, tmp_path):
    """r7 (Flink iceberg-connector commit shape): equality-delete files
    and upsert data files land in ONE snapshot under one sequence number
    — the strict below-seq rule applies the deletes to all earlier files
    but never to the batch's own rows.  Deletes drop keys, upserts
    replace whole rows, a second upsert replaces again (reader-side MOR
    semantics), and the partitioned gate refuses."""
    from pipeline_spark.sinks.iceberg_native import upsert_iceberg_native
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_upsert")
    write_iceberg_native(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "id long, val string"
        ).coalesce(1),
        {"path": tbl, "mode": "create"},
    )
    n_snaps = len(json.loads(
        open(find_table_metadata(tbl)).read())["snapshots"])
    batch = spark.createDataFrame(
        [(3, "updated-3", "UPSERT"), (4, None, "DELETE"),
         (100, "new-100", "UPSERT")],
        "id long, val string, __op__ string",
    ).coalesce(1)
    rep = upsert_iceberg_native(spark, batch, {
        "path": tbl, "primaryKeys": ["id"]})
    assert rep["delete_files"] >= 1 and rep["data_files"] >= 1
    meta = json.loads(open(find_table_metadata(tbl)).read())
    assert len(meta["snapshots"]) == n_snaps + 1  # ONE commit
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"])
    assert snap["summary"]["operation"] == "overwrite"
    back = {r["id"]: r["val"]
            for r in read_iceberg_native(spark, {"path": tbl}).collect()}
    assert back[3] == "updated-3" and 4 not in back
    assert back[100] == "new-100" and back[5] == "v5"
    assert len(back) == 20  # 20 - delete + insert

    # a second upsert of the same key replaces again (seq rule chains)
    upsert_iceberg_native(
        spark,
        spark.createDataFrame([(3, "again-3")], "id long, val string")
        .coalesce(1),
        {"path": tbl, "primaryKeys": ["id"]},
    )
    back = {r["id"]: r["val"]
            for r in read_iceberg_native(spark, {"path": tbl}).collect()}
    assert back[3] == "again-3" and len(back) == 20

    # partitioned table: upsert data lands under the spec's layout and
    # partitionFilter pruning still works on the upserted rows
    tbl2 = str(tmp_path / "ice_upsert_part")
    write_iceberg_native(
        spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(8)],
            "id long, grp string",
        ).coalesce(1),
        {"path": tbl2, "mode": "create", "partitionBy": ["grp"]},
    )
    upsert_iceberg_native(
        spark,
        spark.createDataFrame(
            [(0, "b", "UPSERT"), (1, None, "DELETE"), (50, "a", "UPSERT")],
            "id long, grp string, __op__ string",
        ).coalesce(1),
        {"path": tbl2, "primaryKeys": ["id"]},
    )
    back2 = {r["id"]: r["grp"] for r in read_iceberg_native(
        spark, {"path": tbl2}).collect()}
    assert back2[0] == "b" and 1 not in back2 and back2[50] == "a"
    assert len(back2) == 8
    by_grp = read_iceberg_native(
        spark, {"path": tbl2, "partitionFilter": {"grp": "a"}})
    assert sorted(r["id"] for r in by_grp.collect()) == [2, 4, 6, 50]


def test_rest_catalog_one_commit_upsert(spark, tmp_path):
    """The same one-commit upsert through a REST catalog."""
    from pipeline_spark.sinks.iceberg_native import upsert_iceberg_native

    srv, state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        loc = str(tmp_path / "rest_upsert")
        cat_p = {"catalog": {"uri": uri}, "table": "ns.ups", "location": loc}
        write_iceberg_native(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "id long, val string").coalesce(1),
            {**cat_p, "mode": "create"},
        )
        upsert_iceberg_native(
            spark,
            spark.createDataFrame(
                [(2, "b2", "UPSERT"), (1, None, "DELETE")],
                "id long, val string, __op__ string").coalesce(1),
            {**cat_p, "primaryKeys": ["id"]},
        )
        back = {r["id"]: r["val"] for r in read_iceberg_native(
            spark, {"catalog": {"uri": uri}, "table": "ns.ups"}).collect()}
        assert back == {2: "b2"}
    finally:
        srv.shutdown()


def test_iceberg_streaming_upsert(spark, tmp_path):
    """r7: streaming CDC into Iceberg — mode: upsert commits one
    equality-delete + data snapshot per micro-batch, each stamped with
    (appId, batchId) in its summary; a restarted stream over the same
    files no-ops (Flink's checkpoint-id-in-summary exactly-once)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "ice_stream_ups")
    write_iceberg_native(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, val string"
        ).coalesce(1),
        {"path": tbl, "mode": "create"},
    )
    in_dir = tmp_path / "ups_in"
    in_dir.mkdir()
    pq.write_table(pa.table({
        "id": pa.array([3], pa.int64()),
        "val": pa.array(["updated-3"]),
        "__op__": pa.array(["UPSERT"]),
    }), str(in_dir / "b0.parquet"))
    pq.write_table(pa.table({
        "id": pa.array([4, 100], pa.int64()),
        "val": pa.array([None, "new-100"]),
        "__op__": pa.array(["DELETE", "UPSERT"]),
    }), str(in_dir / "b1.parquet"))
    ckpt = str(tmp_path / "ups_ckpt")
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
    module: iceberg
    inputs: [cdc]
    parameters:
      path: {tbl}
      mode: upsert
      primaryKeys: [id]
      checkpointLocation: {ckpt}
"""
    run_pipeline(spark, parse_config(cfg))
    back = {r["id"]: r["val"]
            for r in read_iceberg_native(spark, {"path": tbl}).collect()}
    assert back[3] == "updated-3" and 4 not in back
    assert back[100] == "new-100" and len(back) == 10
    meta = json.loads(open(find_table_metadata(tbl)).read())
    n_snaps = len(meta["snapshots"])
    stamped = [
        s["summary"].get("pipeline-spark.batch-id")
        for s in meta["snapshots"]
        if s.get("summary", {}).get("pipeline-spark.app-id")
    ]
    assert sorted(stamped) == ["0", "1"]

    # restart over the same inputs: summary high-water makes it a no-op
    run_pipeline(spark, parse_config(cfg))
    meta = json.loads(open(find_table_metadata(tbl)).read())
    assert len(meta["snapshots"]) == n_snaps
    assert read_iceberg_native(spark, {"path": tbl}).count() == 10


def test_iceberg_deletes_special_char_partitions(spark, tmp_path):
    """r7 regression: equality + position deletes must apply to files
    under partition dirs with URI-special characters (spaces, '+', '%')
    — _metadata.file_path percent-encodes them, and an undecoded
    comparison silently skipped the seq test / position match,
    resurrecting deleted rows."""
    from pipeline_spark.sinks.iceberg_native import (
        delete_iceberg_native,
        upsert_iceberg_native,
    )

    tbl = str(tmp_path / "ice_special")
    grps = ["4-NOT SPECIFIED", "a+b", "100%"]
    write_iceberg_native(
        spark.createDataFrame(
            [(i, grps[i % 3]) for i in range(9)], "id long, grp string"
        ).coalesce(1),
        {"path": tbl, "mode": "create", "partitionBy": ["grp"]},
    )
    # equality-delete via one-commit upsert: every key must tombstone
    upsert_iceberg_native(
        spark,
        spark.createDataFrame(
            [(0, grps[0], "UPSERT"), (1, None, "DELETE"), (2, None, "DELETE")],
            "id long, grp string, __op__ string",
        ).coalesce(1),
        {"path": tbl, "primaryKeys": ["id"]},
    )
    back = {r["id"]: r["grp"] for r in read_iceberg_native(
        spark, {"path": tbl}).collect()}
    assert 1 not in back and 2 not in back
    assert back[0] == grps[0] and len(back) == 7
    # position delete on a special-char-partition row
    delete_iceberg_native(
        spark, {"path": tbl, "where": [{"key": "id", "op": "=", "value": 4}]})
    back = read_iceberg_native(spark, {"path": tbl})
    assert sorted(r["id"] for r in back.collect()) == [0, 3, 5, 6, 7, 8]


def test_iceberg_metadata_clone(spark, tmp_path):
    """r7: metadata-only clone (the Delta shallow-clone twin) — one
    metadata write references the source's manifests/files in place;
    snapshotId clones history; writes to the clone diverge without
    touching the source; expire on the clone never deletes source
    files."""
    from pipeline_spark.sinks.iceberg_native import (
        clone_iceberg_native,
        expire_iceberg_native,
    )
    from pipeline_spark.sources.iceberg_native import find_table_metadata

    src = str(tmp_path / "ice_csrc")
    for lo in (0, 10):
        write_iceberg_native(
            spark.createDataFrame(
                [(lo + i,) for i in range(5)], "id long"
            ).coalesce(1),
            {"path": src, "mode": "create" if lo == 0 else "append"},
        )
    meta = json.loads(open(find_table_metadata(src)).read())
    first_snap = meta["snapshots"][0]["snapshot-id"]

    tgt = str(tmp_path / "ice_ctgt")
    rep = clone_iceberg_native(spark, {"path": tgt, "source": src})
    assert rep["cloned_snapshot"] == meta["current-snapshot-id"]
    assert not os.path.isdir(os.path.join(tgt, "data"))  # zero data copied
    assert sorted(
        r["id"] for r in read_iceberg_native(spark, {"path": tgt}).collect()
    ) == list(range(5)) + list(range(10, 15))

    tgt0 = str(tmp_path / "ice_ctgt0")
    clone_iceberg_native(
        spark, {"path": tgt0, "source": src, "snapshotId": first_snap})
    assert read_iceberg_native(spark, {"path": tgt0}).count() == 5

    # divergence + lifecycle isolation
    write_iceberg_native(
        spark.createDataFrame([(99,)], "id long").coalesce(1),
        {"path": tgt, "mode": "append"},
    )
    assert read_iceberg_native(spark, {"path": tgt}).count() == 11
    assert read_iceberg_native(spark, {"path": src}).count() == 10
    n_src = sum(len(fs) for _r, _d, fs in os.walk(src))
    expire_iceberg_native(spark, {"path": tgt, "retainLast": 1})
    assert sum(len(fs) for _r, _d, fs in os.walk(src)) == n_src
    assert read_iceberg_native(spark, {"path": tgt}).count() == 11
    with pytest.raises(FileExistsError):
        clone_iceberg_native(spark, {"path": tgt, "source": src})


def test_iceberg_streaming_merge_mode(spark, tmp_path):
    """r8: mode: merge on a STREAMING iceberg sink merges EVERY
    micro-batch by key (routes to the one-commit equality-delete upsert)
    — previously batches after the first degraded to plain appends,
    which would duplicate re-upserted keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    tbl = str(tmp_path / "ice_stream_merge")
    write_iceberg_native(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(5)], "id long, val string"
        ).coalesce(1),
        {"path": tbl, "mode": "create"},
    )
    in_dir = tmp_path / "merge_in"
    in_dir.mkdir()
    # batch 0 and batch 1 BOTH touch key 2: merge semantics must keep
    # only the last version, an append regression would duplicate it
    pq.write_table(pa.table({
        "id": pa.array([2], pa.int64()),
        "val": pa.array(["first"]),
    }), str(in_dir / "b0.parquet"))
    pq.write_table(pa.table({
        "id": pa.array([2], pa.int64()),
        "val": pa.array(["second"]),
    }), str(in_dir / "b1.parquet"))
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
    module: iceberg
    inputs: [cdc]
    parameters:
      path: {tbl}
      mode: merge
      primaryKeys: [id]
      checkpointLocation: {tmp_path / "merge_ckpt"}
"""
    run_pipeline(spark, parse_config(cfg))
    back = read_iceberg_native(spark, {"path": tbl})
    rows = {r["id"]: r["val"] for r in back.collect()}
    assert back.count() == 5          # no duplicate key 2
    assert rows[2] == "second"
