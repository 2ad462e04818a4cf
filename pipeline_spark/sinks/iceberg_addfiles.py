"""Iceberg ``add_files`` import: register existing hive-layout parquet
into an iceberg table with ZERO data movement.

The public procedure (iceberg's ``system.add_files`` /
``snapshot``-then-import shape): walk the hive directory, derive each
file's partition record from its ``col=value`` path segments, record
footer stats, and commit ONE append snapshot whose entries point at the
files IN PLACE.  The files never materialized their partition columns
— reads work because the reader fills identity-partition values from
the manifest partition record (spec §Column Projection rule #2,
``sources/iceberg_native.py`` ``identity_fill_plan``), and one
compaction materializes them for good.

Reference: mercari/pipeline has no importer; parity target is Iceberg's
own AddFilesProcedure semantics (docs at iceberg.apache.org/docs/latest/
spark-procedures/#add_files).
"""

from __future__ import annotations

import json
from typing import Any


def add_files_iceberg_native(spark, p: dict[str, Any]) -> dict[str, int]:
    """``mode: addFiles``: import ``sourceDir`` (hive-layout parquet)
    into the iceberg table at ``path`` — creating it when absent, else
    appending one snapshot chaining the prior manifests by reference.

    Partition column TYPES come from Spark's own partition-discovery
    inference over the directory (the same types a hive reader would
    assign); data column types come from one footer.  Appends require
    the import's schema to match the table's (by name and type)."""
    from pipeline_spark.functions.icebergpart import parse_dir_value
    from pipeline_spark.sinks import lakefiles
    from pipeline_spark.sinks.iceberg_native import (
        Added,
        Change,
        IcebergTable,
        _name_mapping,
        commit_changes,
        create_table,
        current_schema,
        default_spec,
        iceberg_schema,
    )
    from pipeline_spark.sources.iceberg_native import _strip_scheme

    table = _strip_scheme(str(p.get("path") or p.get("table") or ""))
    src_dir = _strip_scheme(str(p.get("sourceDir") or ""))
    if not table or not src_dir:
        raise ValueError("iceberg addFiles: 'path' and 'sourceDir' required")
    files = lakefiles.walk(src_dir)
    if not files:
        raise ValueError(f"iceberg addFiles: no parquet under {src_dir}")
    part_cols = sorted({k for _p, pv in files for k in pv})
    ragged = [fp for fp, pv in files if sorted(pv) != part_cols]
    if ragged:
        raise ValueError(
            f"iceberg addFiles: inconsistent partition depth at "
            f"{ragged[:2]} — every file must sit under the same "
            f"col=value layout (have {part_cols})"
        )

    # one schema-discovery read (metadata only): Spark's partition
    # inference types the partition columns; the footer types the rest
    disc = spark.read.option("basePath", src_dir).parquet(src_dir)
    full_schema = iceberg_schema(disc.schema)
    full_schema.pop("__last_column_id", None)
    by_name = {f["name"]: f for f in full_schema["fields"]}
    missing = [c for c in part_cols if c not in by_name]
    if missing:
        raise ValueError(
            f"iceberg addFiles: partition dirs {missing} did not survive "
            "schema inference"
        )

    handle = IcebergTable({"path": table}, must_exist=False)
    prev_meta = handle.meta
    if prev_meta is not None:
        schema = current_schema(prev_meta)
        want = {(f["name"], f["type"]) for f in schema["fields"]}
        have = {(f["name"], f["type"]) for f in full_schema["fields"]}
        if want != have:
            raise ValueError(
                "iceberg addFiles: import schema "
                f"{sorted(have)} != table schema {sorted(want)}"
            )
        spec = default_spec(prev_meta)
        spec_names = [sf["name"] for sf in spec.get("fields", [])]
        # SET comparison: the spec preserves creation order (e.g. a
        # delta-converted table's partitionBy order) while part_cols is
        # sorted — partition records are name-keyed, so order is layout-
        # irrelevant
        if sorted(spec_names) != part_cols or any(
            sf.get("transform") != "identity" for sf in spec.get("fields", [])
        ):
            raise ValueError(
                f"iceberg addFiles: import partitioning {part_cols} != "
                f"table's identity spec {spec_names}"
            )
        base = prev_meta
    else:
        # fresh table: schema ids assigned by iceberg_schema; identity
        # spec over the discovered partition columns
        schema = {"type": "struct", "schema-id": 0,
                  "fields": full_schema["fields"]}
        spec = {"spec-id": 0, "fields": [
            {"name": c, "transform": "identity",
             "source-id": by_name[c]["id"], "field-id": 1000 + i}
            for i, c in enumerate(part_cols)
        ]}
        base = create_table(handle, {
            "location": table, "schema": schema, "partition-spec": spec,
            "properties": {
                "write.format.default": "parquet",
                "schema.name-mapping.default": json.dumps(
                    _name_mapping(schema["fields"])
                ),
            },
        })

    kinds = {f["name"]: "long" if f["type"] in ("int", "long") else "string"
             for f in schema["fields"]}
    live = [f for f in lakefiles.read(files, spark) if f.rows != 0]
    if not live:
        raise ValueError(f"iceberg addFiles: only empty parquet in {src_dir}")
    # the files never hold the partition columns, so their footer stats
    # cover the data columns only; a v3 table gives them row ids.  An
    # import into an existing table is a blind append.
    commit_changes(handle, base, Change(
        "append",
        added=[Added(f, {c: parse_dir_value(f.partition.get(c), kinds[c])
                         for c in part_cols}) for f in live],
        summary={"imported-from": src_dir},
    ), reads="append" if prev_meta is not None else "table")
    return {"added_files": len(live), "rows": sum(f.rows for f in live)}
