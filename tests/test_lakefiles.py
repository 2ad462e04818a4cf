"""One data-file model for both lakehouse formats.  Every staged parquet
file is walked and its footer read once by ``sinks/lakefiles.py``;
Delta and Iceberg only encode the resulting ``DataFile``:

- an AST scan keeps every footer read (``pq.ParquetFile``,
  ``read_metadata``) inside ``lakefiles.py`` and the retired per-format
  readers and walkers undefined;
- every Iceberg operation's ADDED manifest entries are compared with
  goldens (``tests/data/iceberg_entry_goldens.json``), normalized so
  that only what the encoder decides is compared (the Delta side is
  pinned by ``tests/test_delta_commit.py``).

Regenerate the goldens (only when an operation's manifest entries are
meant to change) with ``PYTHONPATH=. python tests/test_lakefiles.py``
from the repository root.
"""

import ast
import json
import os
import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / "pipeline_spark"
GOLDENS = pathlib.Path(__file__).resolve().parent / "data" / (
    "iceberg_entry_goldens.json"
)

#: the one module allowed to open a parquet footer under sinks/
READER = "sinks/lakefiles.py"
FOOTER_CALLS = {"ParquetFile", "read_metadata"}
GONE = {
    "_footer_stats", "_footer_column_stats", "_parquet_stats",
    "_collect_file_stats", "_staged_adds", "_walk_hive_files",
    "_bounds_from_delta_stats",
}


def _footer_reads(tree: ast.AST) -> list[int]:
    """Lines that call ``ParquetFile``/``read_metadata`` by any name."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
                fn, "id", None)
            if name in FOOTER_CALLS:
                out.append(node.lineno)
    return out


def _scan():
    reads, defined = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        if rel.startswith("sinks/"):
            reads += [(rel, line) for line in _footer_reads(tree)]
        defined += [
            (rel, node.name) for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name in GONE
        ]
    return reads, defined


def test_only_lakefiles_reads_footers():
    reads, defined = _scan()
    assert [r for r in reads if r[0] != READER] == []
    assert defined == []


def test_the_scan_sees_the_one_path():
    reads, _ = _scan()
    assert {rel for rel, _line in reads} == {READER}
    src = "import pyarrow.parquet as pq\npq.ParquetFile(p)\nread_metadata(p)\n"
    assert _footer_reads(ast.parse(src)) == [2, 3]


# ------------------------------------------------- a column with no bounds

# Spark writes DECIMAL(p<=18) as INT32/INT64, whose min/max pyarrow
# cannot read: that column goes without bounds, every other statistic
# and the row count stay.
DEC = "SELECT id, CAST(id AS DECIMAL(10,2)) AS amt FROM range({lo}, {hi})"


def _dec(spark, lo, hi):
    return spark.sql(DEC.format(lo=lo, hi=hi)).coalesce(1)


def test_scan_keeps_rows_and_other_stats_beside_a_decimal(spark, tmp_path):
    from pipeline_spark.sinks import lakefiles

    out = str(tmp_path / "p")
    _dec(spark, 0, 5).write.parquet(out)
    (f,) = lakefiles.scan(out)
    assert f.rows == 5
    assert f.columns == {"id": (0, 0, 4), "amt": (0, None, None)}


def test_row_tracking_delta_table_with_a_decimal_appends(spark, tmp_path):
    from pipeline_spark.sinks.delta_native import write_delta_native
    from pipeline_spark.sources.delta_native import replay_domains, replay_log

    tbl = str(tmp_path / "rt")
    write_delta_native(spark, _dec(spark, 0, 5), {
        "path": tbl, "properties": {"delta.enableRowTracking": "true"}})
    write_delta_native(spark, _dec(spark, 5, 8), {"path": tbl, "mode": "append"})
    adds = replay_log(tbl)[0]
    assert sorted(a["baseRowId"] for a in adds) == [0, 5]
    assert all(json.loads(a["stats"])["numRecords"] for a in adds)
    dm = replay_domains(tbl)["delta.rowTracking"]
    assert json.loads(dm["configuration"])["rowIdHighWaterMark"] == 7


def test_uniform_table_with_a_decimal_syncs(spark, tmp_path):
    from pipeline_spark.sinks import delta_native as dn
    from pipeline_spark.sources.iceberg_native import read_iceberg_native

    tbl = str(tmp_path / "uf")
    dn.write_delta_native(spark, _dec(spark, 0, 5), {
        "path": tbl,
        "properties": {"delta.universalFormat.enabledFormats": "iceberg"}})
    dn.write_delta_native(spark, _dec(spark, 5, 8), {"path": tbl, "mode": "append"})
    # a delete: the full regeneration from the log's stats
    dn.delete_delta_native(spark, {
        "path": tbl, "where": [{"key": "id", "op": "<", "value": 2}]})
    got = sorted(r["id"] for r in read_iceberg_native(spark, {"path": tbl}).collect())
    assert got == list(range(2, 8))


def test_iceberg_write_and_equality_delete_with_a_decimal(spark, tmp_path):
    import decimal

    import pipeline_spark.sinks.iceberg_native as ice
    from pipeline_spark.sources.iceberg_native import read_iceberg_native

    tbl = str(tmp_path / "ice")
    ice.write_iceberg_native(_dec(spark, 0, 5), {"path": tbl, "mode": "create"})
    ice.equality_delete_iceberg_native(
        spark, {"path": tbl, "values": [{"amt": decimal.Decimal("3.00")}]})
    got = sorted(r["id"] for r in read_iceberg_native(spark, {"path": tbl}).collect())
    assert got == [0, 1, 2, 4]


# ---------------------------------------------------------------- goldens

_SUBS = [
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"[0-9a-f]{32}"), "<uuid>"),
]
_FIELDS = (
    "content", "file_path", "partition", "record_count",
    "file_size_in_bytes", "null_value_counts", "lower_bounds",
    "upper_bounds", "first_row_id", "equality_ids",
)


def _plain(v):
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def _entries(table: str, root: str) -> list[list[str]]:
    """Per snapshot (in metadata order): the ADDED entries of the
    manifests that snapshot wrote, normalized and sorted."""
    from pipeline_spark.functions.avroocf import read_ocf_file
    from pipeline_spark.sources.iceberg_native import (
        _strip_scheme,
        load_table_metadata,
    )

    out = []
    for snap in load_table_metadata(table).get("snapshots") or []:
        sid = snap["snapshot-id"]
        _, manifests = read_ocf_file(_strip_scheme(snap["manifest-list"]))
        rows = []
        for m in manifests:
            if m.get("added_snapshot_id") != sid:
                continue
            _, entries = read_ocf_file(_strip_scheme(m["manifest_path"]))
            for e in entries:
                if e.get("status") != 1:
                    continue
                d = {k: _plain(e["data_file"].get(k)) for k in _FIELDS}
                if d["content"] == 1:
                    # position deletes and DVs name data files by absolute
                    # path, so their size depends on the root's length
                    d["file_size_in_bytes"] = None
                text = json.dumps(d, sort_keys=True).replace(root, "<root>")
                for pat, repl in _SUBS:
                    text = pat.sub(repl, text)
                rows.append(text)
        out.append(sorted(rows))
    return out


def _ops():
    """name -> fn(spark, root) returning the table whose entries are
    compared.  Inputs are coalesce(1) so file counts do not depend on
    the host."""
    from pyspark.sql import functions as F

    import pipeline_spark.sinks.delta_native as dn
    import pipeline_spark.sinks.iceberg_native as ice
    from pipeline_spark.sinks import tableconvert as tc
    from pipeline_spark.sinks.iceberg_addfiles import add_files_iceberg_native

    def rows(spark, lo, hi):
        return (
            spark.range(lo, hi)
            .withColumn("v", F.concat(F.lit("v"), F.col("id").cast("string")))
            .withColumn("g", (F.col("id") % 2).cast("int"))
            .withColumn("d", F.expr("date_add(DATE'2024-01-01', CAST(id AS INT))"))
            .withColumn("x", F.when(F.col("id") % 3 == 0, None)
                        .otherwise(F.col("id") * 1.5))
            .coalesce(1)
        )

    V3 = {"format-version": "3"}

    def base(spark, root, name, props=None, **kw):
        tbl = os.path.join(root, name)
        ice.write_iceberg_native(rows(spark, 0, 10), {
            "path": tbl, "mode": "create",
            **({"properties": props} if props else {}), **kw,
        })
        ice.write_iceberg_native(
            rows(spark, 10, 20), {"path": tbl, "mode": "append", **kw}
        )
        return tbl

    def write(name, props=None, **kw):
        def run(spark, root):
            return base(spark, root, name, props, **kw)
        return run

    def compact(spark, root):
        tbl = base(spark, root, "compact", partitionBy=["g"])
        ice.compact_iceberg_native(spark, {"path": tbl, "minFilesPerGroup": 1})
        return tbl

    def batch(spark):
        return spark.createDataFrame(
            [(3, "x", 1, None, 4.5, "UPSERT"), (4, None, 0, None, None, "DELETE"),
             (40, "new", 0, None, 60.0, "UPSERT")],
            "id long, v string, g int, d date, x double, __op__ string",
        ).coalesce(1)

    def upsert(name, props=None, **kw):
        def run(spark, root):
            tbl = base(spark, root, name, props, **kw)
            ice.upsert_iceberg_native(
                spark, batch(spark), {"path": tbl, "primaryKeys": ["id"]})
            return tbl
        return run

    def merge(spark, root):
        tbl = base(spark, root, "merge", V3, partitionBy=["g"])
        ice.merge_iceberg_native(
            spark, batch(spark), {"path": tbl, "primaryKeys": ["id"]})
        return tbl

    def dml(name, props=None, **p):
        def run(spark, root):
            tbl = base(spark, root, name, props, partitionBy=["g"])
            where = [{"key": "id", "op": "<", "value": 3}]
            if "set" in p:
                ice.update_iceberg_native(spark, {"path": tbl, "where": where, **p})
            else:
                ice.delete_iceberg_native(spark, {"path": tbl, "where": where, **p})
            return tbl
        return run

    def equality_delete(spark, root):
        tbl = base(spark, root, "eqdel")
        ice.equality_delete_iceberg_native(
            spark, {"path": tbl, "values": [{"id": 1}, {"id": 12}]})
        return tbl

    def add_files(spark, root):
        tbl = os.path.join(root, "addfiles")
        for i, (lo, hi) in enumerate([(0, 8), (8, 12)]):
            src = os.path.join(root, f"src{i}")
            rows(spark, lo, hi).write.partitionBy("g").parquet(src)
            add_files_iceberg_native(spark, {"path": tbl, "sourceDir": src})
        return tbl

    def add_files_v3(spark, root):
        tbl = base(spark, root, "addfiles_v3", V3, partitionBy=["g"])
        src = os.path.join(root, "src")
        rows(spark, 30, 34).drop("g").write.parquet(os.path.join(src, "g=1"))
        add_files_iceberg_native(spark, {"path": tbl, "sourceDir": src})
        return tbl

    def convert(spark, root):
        tbl = os.path.join(root, "convert")
        dn.write_delta_native(spark, rows(spark, 0, 10), {
            "path": tbl, "partitionBy": ["g"],
            "properties": {"delta.enableDeletionVectors": "true"},
        })
        dn.write_delta_native(spark, rows(spark, 10, 20), {
            "path": tbl, "mode": "append", "partitionBy": ["g"]})
        dn.delete_delta_native(spark, {
            "path": tbl, "method": "mor",
            "where": [{"key": "id", "op": "=", "value": 1}],
        })
        tc.convert_delta_to_iceberg(spark, {"path": tbl})
        return tbl

    def uniform(spark, root):
        tbl = os.path.join(root, "uniform")
        dn.write_delta_native(spark, rows(spark, 0, 10), {
            "path": tbl, "partitionBy": ["g"],
            "properties": {"delta.universalFormat.enabledFormats": "iceberg"},
        })
        # a blind append: the incremental sync chains one snapshot
        dn.write_delta_native(spark, rows(spark, 10, 20), {
            "path": tbl, "mode": "append", "partitionBy": ["g"]})
        # a delete: the full regeneration from the log's stats
        dn.delete_delta_native(spark, {
            "path": tbl, "where": [{"key": "id", "op": "<", "value": 2}]})
        dn.write_delta_native(spark, rows(spark, 20, 22), {
            "path": tbl, "mode": "append", "partitionBy": ["g"]})
        return tbl

    return {
        "write_unpartitioned_v2": write("w_plain"),
        "write_identity_v2": write("w_ident", partitionBy=["g", "d"]),
        "write_transform_v2": write(
            "w_trans", partitionBy=["bucket(4, id)", "truncate(2, v)",
                                    "month(d)"]),
        "write_unpartitioned_v3": write("w_plain3", V3),
        "write_identity_v3": write("w_ident3", V3, partitionBy=["g"]),
        "write_transform_v3": write(
            "w_trans3", V3, partitionBy=["bucket(4, id)", "day(d)"]),
        "compact": compact,
        "upsert_v2": upsert("upsert", partitionBy=["g"]),
        "upsert_v3": upsert("upsert3", V3),
        "merge": merge,
        "update_cow": dml("update_cow", set={"v": "upper(v)"}),
        "update_mor": dml("update_mor", V3, method="mor", set={"v": "upper(v)"}),
        "delete_cow": dml("delete_cow", method="cow"),
        "delete_mor": dml("delete_mor"),
        "equality_delete": equality_delete,
        "add_files": add_files,
        "add_files_v3": add_files_v3,
        "convert_delta_to_iceberg": convert,
        "uniform_sync": uniform,
    }


def _goldens():
    with open(GOLDENS) as fh:
        return json.load(fh)


@pytest.mark.parametrize("op", sorted(_ops()))
def test_manifest_entries_match_goldens(spark, tmp_path, op):
    root = str(tmp_path)
    tbl = _ops()[op](spark, root)
    assert _entries(tbl, root) == _goldens()[op]


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
            out[name] = _entries(fn(spark, root), root)
    GOLDENS.parent.mkdir(exist_ok=True)
    with open(GOLDENS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    _regenerate()
