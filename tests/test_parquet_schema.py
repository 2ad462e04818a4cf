"""read_parquet (functions/parquetschema.py) gives what spark.read.parquet
gives — schema, rows and errors — without the schema-inference job, and
every inferred-schema parquet read in the engine goes through it."""

import ast
import datetime
import decimal
import json
import os
import pathlib
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from pipeline_spark.functions.parquetschema import _footer_schema, read_parquet

CONF_VARIANTS = [
    {},
    {"spark.sql.parquet.binaryAsString": "true"},
    {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"},
    {"spark.sql.parquet.int96AsTimestamp": "false"},
    {"spark.sql.caseSensitive": "true"},
]


def _arrow_types_table() -> pa.Table:
    ts = [datetime.datetime(2024, 1, 2, 3, 4, 5, 678000), None, datetime.datetime(1970, 1, 1)]
    return pa.table({
        "i8": pa.array([1, None, -3], pa.int8()),
        "i16": pa.array([1, 2, None], pa.int16()),
        "i32": pa.array([None, 2, 3], pa.int32()),
        "i64": pa.array([1, 2, 3], pa.int64()),
        "u8": pa.array([1, 255, None], pa.uint8()),
        "u32": pa.array([1, 2**32 - 1, None], pa.uint32()),
        "u64": pa.array([1, 2**64 - 1, None], pa.uint64()),
        "f32": pa.array([1.5, None, float("nan")], pa.float32()),
        "f64": pa.array([1.25, float("inf"), None], pa.float64()),
        "flag": pa.array([True, None, False], pa.bool_()),
        "s": pa.array(["a", None, "ü"], pa.string()),
        "ls": pa.array(["x", "y", None], pa.large_string()),
        "bin": pa.array([b"\x00\x01", None, b""], pa.binary()),
        "fbin": pa.array([b"abcd", None, b"wxyz"], pa.binary(4)),
        "d": pa.array([datetime.date(2024, 1, 2), None, datetime.date(1, 1, 1)], pa.date32()),
        "ts_utc": pa.array(ts, pa.timestamp("ms", tz="UTC")),
        "ts_local": pa.array(ts, pa.timestamp("us")),
        "dec": pa.array([decimal.Decimal("1.23"), None, decimal.Decimal("-99.99")], pa.decimal128(10, 2)),
        "lst": pa.array([[1, 2], None, []], pa.list_(pa.int64())),
        "st": pa.array([{"x": 1, "y": "a"}, None, {"x": None, "y": "c"}],
                       pa.struct([("x", pa.int32()), ("y", pa.string())])),
        "mp": pa.array([[("k", 1)], None, []], pa.map_(pa.string(), pa.int32())),
        "dict": pa.array(["p", "q", "p"]).dictionary_encode(),
    })


@pytest.fixture(scope="module")
def files(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("pqschema")
    out = {}
    out["types"] = str(root / "types.parquet")
    pq.write_table(_arrow_types_table(), out["types"])
    out["int96"] = str(root / "int96.parquet")
    pq.write_table(
        pa.table({"t": pa.array([datetime.datetime(2020, 5, 6, 7, 8, 9)], pa.timestamp("us"))}),
        out["int96"], use_deprecated_int96_timestamps=True,
    )
    out["nanos"] = str(root / "nanos.parquet")
    pq.write_table(
        pa.table({"id": [1, 2], "t": pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))}),
        out["nanos"], version="2.6", coerce_timestamps=None,
    )
    # Spark-written: non-nullable fields, field metadata, _SUCCESS and .crc files
    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), False, {"comment": "value"}),
        T.StructField("arr", T.ArrayType(T.IntegerType(), False), True),
    ])
    out["spark_dir"] = str(root / "spark_written")
    spark.createDataFrame([(1, "a", [1]), (2, "b", None)], schema).coalesce(2).write.parquet(out["spark_dir"])
    out["spark_file"] = str(next(pathlib.Path(out["spark_dir"]).glob("part-*.parquet")))
    # two files, two schemas: inference reads the smaller path's footer
    out["wide"] = str(root / "b_wide.parquet")
    out["narrow"] = str(root / "a_narrow.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), out["wide"])
    pq.write_table(pa.table({"a": [3], "c": [0.5]}), out["narrow"])
    out["flat_dir"] = str(root / "flat")
    pathlib.Path(out["flat_dir"]).mkdir()
    pq.write_table(pa.table({"z": [1]}), out["flat_dir"] + "/part-1.parquet")
    pq.write_table(pa.table({"y": ["q"]}), out["flat_dir"] + "/part-0.parquet")
    return out


@pytest.fixture
def conf(spark):
    """Set session confs for one test, restoring the previous values."""
    saved = {}

    def set_conf(values: dict) -> None:
        for k, v in values.items():
            saved.setdefault(k, spark.conf.get(k, None))
            spark.conf.set(k, v)

    yield set_conf
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _rows(df) -> list:
    return sorted(repr(r) for r in df.collect())


def _assert_same(spark, *paths) -> None:
    want = spark.read.parquet(*paths)
    got = read_parquet(spark, *paths)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


INT96_OFF = {"spark.sql.parquet.int96AsTimestamp": "false"}
CASES = [
    ("types",), ("int96",), ("spark_dir",), ("spark_file",),
    ("wide", "narrow"), ("narrow", "wide"), ("flat_dir",), ("flat_dir", "wide"),
]


@pytest.mark.parametrize("variant,case", [
    (v, c) for v in CONF_VARIANTS for c in CASES if (v, c) != (INT96_OFF, ("int96",))
], ids=lambda x: (",".join(x) or "default") if isinstance(x, dict) else "+".join(x))
def test_same_schema_and_rows_as_inference(spark, files, conf, variant, case):
    conf(variant)
    paths = [files[c] for c in case]
    assert _footer_schema(spark, tuple(paths)) is not None
    _assert_same(spark, *paths)


def test_file_uri_and_trailing_slash_paths(spark, files):
    paths = ("file://" + files["types"], "file:" + files["narrow"], files["flat_dir"] + "/")
    assert _footer_schema(spark, paths) is not None
    _assert_same(spark, *paths)


def test_nanos_as_long(spark, files, conf):
    conf({"spark.sql.legacy.parquet.nanosAsLong": "true"})
    assert _footer_schema(spark, (files["nanos"],)) is not None
    _assert_same(spark, files["nanos"])


def _error(fn) -> tuple:
    with pytest.raises(Exception) as info:
        fn().collect()
    e = info.value
    condition = getattr(e, "getCondition", lambda: None)()
    # stage / task ids differ between any two runs of the same read
    message = re.sub(r"\d+(\.\d+)?", "N", str(e).splitlines()[0])
    return type(e), condition, message


@pytest.mark.parametrize("kind", ["missing", "corrupt", "nanos_without_conf", "int96_off"])
def test_errors_unchanged(spark, files, tmp_path, conf, kind):
    if kind == "int96_off":
        conf(INT96_OFF)
        path = files["int96"]
    elif kind == "missing":
        path = str(tmp_path / "absent.parquet")
    elif kind == "corrupt":
        path = str(tmp_path / "corrupt.parquet")
        pathlib.Path(path).write_bytes(b"PAR1 not a parquet file")
    else:
        path = files["nanos"]
    assert _error(lambda: read_parquet(spark, path)) == _error(lambda: spark.read.parquet(path))


def test_declines(spark, files, tmp_path, conf):
    part = tmp_path / "hive"
    for day in (1, 2):
        (part / f"day={day}").mkdir(parents=True)
        pq.write_table(pa.table({"x": [day]}), str(part / f"day={day}" / "f.parquet"))
    summary = tmp_path / "summary"
    summary.mkdir()
    pq.write_table(pa.table({"x": [1]}), str(summary / "part-0.parquet"))
    pq.write_metadata(pa.schema([("x", pa.int64())]), str(summary / "_common_metadata"))
    glob = str(pathlib.Path(files["flat_dir"]) / "*.parquet")
    relative = os.path.relpath(files["narrow"])
    for paths in ([glob], [str(part)], [str(summary)], [relative]):
        assert _footer_schema(spark, tuple(paths)) is None
        _assert_same(spark, *paths)
    conf({"spark.sql.parquet.mergeSchema": "true"})
    assert _footer_schema(spark, (files["wide"], files["narrow"])) is None
    _assert_same(spark, files["wide"], files["narrow"])


def test_dry_run_of_parquet_storage_source_launches_no_job(spark, files):
    """Building a single-file parquet ``storage`` source runs no Spark job
    (plain inference launches one to read a footer)."""
    from pipeline_spark.config import parse_config
    from pipeline_spark.executor import run_pipeline

    cfg = {
        "sources": [{"name": "src", "module": "storage",
                     "parameters": {"format": "parquet", "input": files["types"]}}],
        "sinks": [{"name": "out", "module": "memory", "inputs": ["src"],
                   "parameters": {"table": "parquet_schema_dry_run"}}],
    }
    sc = spark.sparkContext
    group = "test_parquet_schema_dry_run"
    sc.setJobGroup(group, "dry run of a parquet storage source")
    try:
        schema = run_pipeline(spark, parse_config(json.dumps(cfg)), dry_run=True)["out"].schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert schema == spark.read.parquet(files["types"]).schema


# -- guard: every inferred-schema parquet read goes through read_parquet ----

PKG = pathlib.Path(__file__).resolve().parent.parent / "pipeline_spark"
HELPER = "functions/parquetschema.py"
# (file, enclosing function) -> why its schema-less parquet read stays
ALLOWED = {
    ("sinks/tableconvert.py", "convert_parquet_to_delta"):
        "basePath read that exists to run Spark's partition discovery over a "
        "hive layout, which read_parquet declines",
    ("sinks/iceberg_addfiles.py", "add_files_iceberg_native"):
        "basePath read that exists to run Spark's partition discovery over a "
        "hive layout, which read_parquet declines",
    ("sources/iceberg_native.py", "live_rows"):
        "the mergeSchema option reads every footer, which read_parquet declines",
}


def _chain(node, assigns: dict, seen: set) -> set:
    """Attribute names along a reader/writer chain, following a local
    variable to every value assigned to it in the function."""
    names = set()
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
            node = node.value
        elif isinstance(node, ast.IfExp):
            return names | _chain(node.body, assigns, seen) | _chain(node.orelse, assigns, seen)
        elif isinstance(node, ast.Name) and node.id not in seen:
            seen.add(node.id)
            for value in assigns.get(node.id, ()):
                names |= _chain(value, assigns, seen)
            return names
        else:
            return names


def _schemaless_parquet_reads() -> list:
    """(file, innermost enclosing function, line) of every ``.parquet(``
    call whose chain has no ``.schema(`` and is not a write."""
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == HELPER:
            continue
        # ast.walk is breadth-first: a nested function is visited after
        # its parent, so its own entry overwrites the parent's
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            assigns: dict = {}
            for n in ast.walk(fn):
                if isinstance(n, ast.Assign):
                    for t in n.targets:
                        if isinstance(t, ast.Name):
                            assigns.setdefault(t.id, []).append(n.value)
            for n in ast.walk(fn):
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "parquet":
                    chain = _chain(n.func.value, assigns, set())
                    found[(rel, n.lineno, n.col_offset)] = (
                        fn.name, not chain & {"write", "writeStream", "schema"})
    return [(rel, name, line) for (rel, line, _), (name, bad) in sorted(found.items()) if bad]


def test_parquet_reads_without_schema_use_the_helper():
    found = _schemaless_parquet_reads()
    stray = [f for f in found if f[:2] not in ALLOWED]
    assert stray == [], "parquet read without .schema(): use functions/parquetschema.read_parquet"
    # each allowlisted function still holds exactly one such read
    assert sorted(f[:2] for f in found) == sorted(ALLOWED)
