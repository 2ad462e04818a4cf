"""Parquet reads whose schema comes from one driver-side footer read.

``spark.read.parquet(p)`` without a schema infers one while the plan is
built: ``ParquetUtils.inferSchema`` sorts the leaf files by path string
and hands the first data file to ``mergeSchemasInParallel``, which reads
that one footer inside a one-task Spark job.  For a small read the job is
most of the plan cost (~190 ms of CPU warm on a 4-core host, against
~25 ms with the schema given).  ``read_parquet`` picks the same file on
the driver, reads its footer with the calls that task makes
(``ParquetFooterReader.readFooter`` with ``SKIP_ROW_GROUPS``, then
``ParquetFileFormat.readSchemaFromFooter`` under a converter built from
the session's SQLConf) and passes the result as the read's schema.  Spark
makes a file source's data schema nullable whether it was inferred or
given, so the DataFrame is the same.

It declines, returning the plain ``spark.read.parquet(*paths)`` so the
result and any error stay Spark's own, whenever it cannot be sure it picks
the file Spark would: a glob; a non-local or relative path; a path Hadoop
would spell differently (``.``/``..``, a doubled ``/``, ``%``);
a hidden or underscore-named file, a summary file (``_metadata``,
``_common_metadata``) or a subdirectory (hive partitions); schema merging
on; a Hadoop input path filter set; or any exception (a missing path, a
corrupt footer, a Spark without these classes).  Directories are listed
in Python, so a flat directory costs no py4j call per file.
"""

from __future__ import annotations

import os
import weakref
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession

from pipeline_spark.functions.jvmclass import jvm_class_present

_PQ = "org.apache.spark.sql.execution.datasources.parquet."
_PATH = "org.apache.hadoop.fs.Path"
_INPUT_FILE = "org.apache.parquet.hadoop.util.HadoopInputFile"
_FILTERS = "org.apache.parquet.format.converter.ParquetMetadataConverter"
_FOOTER = "org.apache.parquet.hadoop.Footer"
_FOOTER_READER = _PQ + "ParquetFooterReader"
_CONVERTER = _PQ + "ParquetToSparkSchemaConverter"
_FILE_FORMAT = _PQ + "ParquetFileFormat"

# characters that make Spark glob a path (SparkHadoopUtil.isGlobPath)
_GLOB_CHARS = frozenset("{}[]*?\\")

# {gateway -> SimpleNamespace of JVM handles, or None when unavailable};
# weak like jvmclass._CACHE, so a fresh gateway probes afresh
_API: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _jvm_api(spark: SparkSession):
    """The JVM classes and static members a footer read needs, looked up
    once per gateway (each py4j member lookup is a round-trip)."""
    gw = spark.sparkContext._gateway  # type: ignore[attr-defined]
    if gw in _API:
        return _API[gw]
    api = None
    classes = (_PATH, _INPUT_FILE, _FILTERS, _FOOTER, _FOOTER_READER, _CONVERTER, _FILE_FORMAT)
    if all(jvm_class_present(spark, c) for c in classes):
        from py4j.java_gateway import JavaClass

        client = gw._gateway_client
        try:
            api = SimpleNamespace(
                path=JavaClass(_PATH, client),
                input_file=JavaClass(_INPUT_FILE, client).fromPath,
                skip_row_groups=JavaClass(_FILTERS, client).SKIP_ROW_GROUPS,
                footer=JavaClass(_FOOTER, client),
                read_footer=JavaClass(_FOOTER_READER, client).readFooter,
                converter=JavaClass(_CONVERTER, client),
                schema_from_footer=JavaClass(_FILE_FORMAT, client).readSchemaFromFooter,
            )
        except Exception:
            api = None
    _API[gw] = api
    return api


def _hidden(name: str) -> bool:
    """Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName)."""
    exclude = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return exclude and not (name.startswith("_common_metadata") or name.startswith("_metadata"))


def _local_path(path: str) -> str | None:
    """``path`` as the absolute local path Hadoop's ``Path.toString``
    spells after ``file:``, or None when Hadoop might spell it otherwise."""
    rest = path[len("file:"):] if path.startswith("file:") else path
    if rest.startswith("///"):
        rest = rest[2:]
    if len(rest) > 1:
        rest = rest.rstrip("/")  # Hadoop drops a trailing slash too
    if not rest.startswith("/") or rest.startswith("//") or "%" in rest:
        return None
    return rest if os.path.normpath(rest) == rest else None


def _first_data_file(paths: tuple) -> str | None:
    """The leaf file Spark's inference reads: the smallest path string
    among the data files, or None when a path falls outside the cases
    handled here."""
    leaves = []
    for path in paths:
        local = _local_path(path) if isinstance(path, str) else None
        if local is None or _GLOB_CHARS.intersection(local):
            return None
        name = os.path.basename(local)
        if os.path.isdir(local):
            with os.scandir(local) as entries:
                names = [e.name for e in entries if not _hidden(e.name)]
            children = [os.path.join(local, n) for n in names]
            if any(n.startswith("_") for n in names) or not all(map(os.path.isfile, children)):
                return None  # summary file or subdirectory
            leaves.extend(children)
        elif os.path.isfile(local) and not (_hidden(name) or name.startswith("_")):
            leaves.append(local)
        else:
            return None
    if not leaves:
        return None
    # Scala sorts strings by UTF-16 code unit, which big-endian bytes keep
    first = min(leaves, key=lambda s: s.encode("utf-16-be"))
    return None if "%" in first else first  # Hadoop's Path would decode it


def _footer_schema(spark: SparkSession, paths: tuple):
    """The inferred schema of ``spark.read.parquet(*paths)`` as a JVM
    StructType, or None when the helper declines."""
    api = _jvm_api(spark)
    if api is None:
        return None
    first = _first_data_file(paths)
    if first is None:
        return None
    state = spark._jsparkSession.sessionState()  # type: ignore[attr-defined]
    sqlconf = state.conf()
    if sqlconf.isParquetSchemaMergingEnabled():
        return None
    hconf = state.newHadoopConf()
    if hconf.get("mapreduce.input.pathFilter.class") is not None:
        return None
    if not all(p.startswith("file:") for p in paths) and not str(
        hconf.get("fs.defaultFS", "file:///")
    ).startswith("file:"):
        return None
    jpath = api.path("file:" + first)
    meta = api.read_footer(api.input_file(jpath, hconf), api.skip_row_groups)
    return api.schema_from_footer(api.footer(jpath, meta), api.converter(sqlconf))


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema read on the driver
    from the footer Spark's inference would read, so building the plan
    launches no Spark job; the plain read when the helper declines."""
    try:
        schema = _footer_schema(spark, paths)
        if schema is not None:
            from pyspark.sql.classic.column import _to_seq

            jss = spark._jsparkSession  # type: ignore[attr-defined]
            jdf = jss.read().schema(schema).parquet(_to_seq(spark.sparkContext, list(paths)))
            return DataFrame(jdf, spark)
    except Exception:
        pass  # decline: the plain read below raises Spark's own error, if any
    return spark.read.parquet(*paths)
