"""In-place, metadata-only table-format conversion: delta ↔ iceberg.

The lakehouse migration shape (delta-spark's ``CONVERT TO DELTA`` /
iceberg's ``snapshot``/``add_files`` procedures) re-expressed over this
repo's two native metadata stacks: the TARGET format's metadata is
written over the SAME parquet data files — zero bytes of data move, the
r7 clone discipline applied across formats.  The source format's log
stays behind untouched (the conversion is a snapshot, not a rename), so
the original table keeps reading until its owner retires it.

Everything the two formats can both express translates (r10 closed the
r9 guards):

- **partitioned delta** → an identity partition spec whose per-file
  partition records come from each add's ``partitionValues``; delta
  files never materialize partition columns in the parquet, so the
  iceberg reader fills them from the manifest partition record (spec
  §Column Projection rule #2 — ``sources/iceberg_native.py``
  ``identity_fill_plan`` — the same rule ``add_files``-imported Hive
  data relies on);
- **column-mapped delta** → iceberg field-ids from each field's
  ``delta.columnMapping.id``; the manifest's embedded write-schema
  carries the PHYSICAL names under those ids, so the reader's existing
  field-id rename machinery (``evolved_scan``) maps physical → logical
  with zero new code, and ``schema.name-mapping.default`` keeps foreign
  readers correct;
- **live delta deletion vectors** → iceberg v3 puffin deletion vectors
  (both are roaring position bitmaps over immutable files): one puffin
  container per table, one blob per DV-carrying file, manifest
  field-ids 143/144/145, format-version 3 with row-lineage fields.
- **iceberg position deletes / puffin DVs** → delta deletion vectors
  (the reverse translation, same bitmap identity).

Remaining guards (each names its workaround):

- iceberg EQUALITY deletes delete by key, which delta cannot express
  without scanning data — compact first;
- schema-evolved iceberg manifests (renamed columns since a file's
  write) would need per-generation physical names, but delta column
  mapping allows ONE physical name per column — compact first unless
  every live file shares the write name; added/dropped columns are
  fine (delta readers null-pad / ignore extra parquet columns).

Reference: mercari/pipeline has no converter; parity target is the
public ConvertToDeltaCommand / SnapshotTableSparkAction semantics.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from typing import Any

from pipeline_spark.registry import KIND_SINK, ModuleContext, module
from pipeline_spark.sinks import lakefiles
from pipeline_spark.sources.iceberg_native import _strip_scheme

_DELTA_TO_ICE = {
    "long": "long", "integer": "int", "short": "int", "byte": "int",
    "string": "string", "double": "double", "float": "float",
    "boolean": "boolean", "date": "date", "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp", "binary": "binary",
}
_ICE_TO_DELTA = {
    "long": "long", "int": "integer", "string": "string",
    "double": "double", "float": "float", "boolean": "boolean",
    "date": "date", "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz", "binary": "binary",
}


def _delta_type_to_ice(t: Any) -> str:
    if isinstance(t, str):
        if t in _DELTA_TO_ICE:
            return _DELTA_TO_ICE[t]
        if t.startswith("decimal("):
            return t
    raise NotImplementedError(
        f"convert: delta type {t!r} has no metadata-only iceberg mapping "
        "(nested/exotic types: rewrite through a storage sink instead)"
    )


def _ice_type_to_delta(t: Any) -> str:
    if isinstance(t, str):
        if t in _ICE_TO_DELTA:
            return _ICE_TO_DELTA[t]
        if t.startswith("decimal("):
            return t
    raise NotImplementedError(
        f"convert: iceberg type {t!r} has no metadata-only delta mapping "
        "(nested/exotic types: rewrite through a storage sink instead)"
    )


def convert_delta_to_iceberg(spark, p: dict[str, Any]) -> dict[str, Any]:
    table = _strip_scheme(
        str(p.get("path") or p.get("table") or p.get("source") or "")
    )
    if not table:
        raise ValueError("convert: 'path' of the delta table is required")
    meta_dir = os.path.join(table, "metadata")
    if os.path.isdir(meta_dir) and any(
        n.endswith(".metadata.json") for n in os.listdir(meta_dir)
    ):
        raise FileExistsError(
            f"convert: {table} already carries iceberg metadata"
        )
    return _iceberg_metadata_over_delta(table, version=1,
                                        stats_source="footer", spark=spark)


def sync_uniform_iceberg(table: str) -> dict[str, Any]:
    """UniForm-style continuous sync (delta-spark's
    ``delta.universalFormat.enabledFormats=iceberg``): regenerate the
    iceberg metadata over the delta table's CURRENT state at the next
    metadata version — after every delta commit, iceberg readers see
    the same single copy of the data.

    Per-commit cost is PURE METADATA: column bounds come from each
    add's ``stats`` JSON (``stats_source="log"`` — zero parquet footer
    reads; the delta writer already paid for them), DV re-framing is
    KB-scale per vectored file, and the commit is one new metadata
    version.  A racing sync (two delta writers) loses the
    create-exclusive version claim and retries against the then-current
    delta state — syncs are idempotent snapshots of delta state, so
    last-writer-wins is correct.

    Iceberg-side history intentionally stays ONE snapshot deep: the
    delta log owns time travel; each sync is a fresh snapshot of "now"
    (delta-spark's UniForm keeps the same contract)."""
    from pipeline_spark.sources.iceberg_native import load_table_metadata

    for attempt in range(3):
        try:
            prev_v = 0
            try:
                prev_v = int(load_table_metadata(table).get("__version") or 0)
            except FileNotFoundError:
                pass
            return _iceberg_metadata_over_delta(
                table, version=prev_v + 1, stats_source="log"
            )
        except FileExistsError:
            if attempt == 2:
                raise


def convert_parquet_to_delta(spark, p: dict[str, Any]) -> dict[str, Any]:
    """CONVERT TO DELTA for a plain (optionally hive-partitioned)
    parquet directory — delta-spark's ConvertToDeltaCommand, the classic
    migration entry point: one delta log over the files IN PLACE,
    partition columns from the ``col=value`` directory names, footer
    stats in every ``add.stats`` so skipping works from commit zero."""
    from pipeline_spark.sinks.delta_native import commit

    table = _strip_scheme(
        str(p.get("path") or p.get("table") or p.get("source") or "")
    )
    if not table:
        raise ValueError("convert: 'path' of the parquet directory is required")
    log_dir = os.path.join(table, "_delta_log")
    if os.path.isdir(log_dir) and os.listdir(log_dir):
        raise FileExistsError(f"convert: {table} already carries a delta log")
    files = lakefiles.walk(table)
    if not files:
        raise ValueError(f"convert: no parquet files under {table}")
    part_cols = sorted({k for _fp, pv in files for k in pv})
    ragged = [fp for fp, pv in files if sorted(pv) != part_cols]
    if ragged:
        raise ValueError(
            f"convert: inconsistent partition depth at {ragged[:2]} — "
            f"every file must sit under the same col=value layout "
            f"(have {part_cols})"
        )
    # Spark's partition-discovery inference types the partition columns
    # exactly as a hive reader would (small integers infer as INT);
    # ``partitionSchema: {col: sparkType}`` overrides per column when
    # the caller knows better — delta-spark's CONVERT has the same knob
    disc = spark.read.option("basePath", table).parquet(table)
    dfields = json.loads(disc.schema.json())["fields"]
    overrides = {
        str(k): str(v) for k, v in (p.get("partitionSchema") or {}).items()
    }
    bad_ovr = sorted(set(overrides) - set(part_cols))
    if bad_ovr:
        raise ValueError(
            f"convert: partitionSchema names non-partition columns "
            f"{bad_ovr} (partitions: {part_cols})"
        )
    dfields = [
        {**f, "type": overrides.get(f["name"], f["type"])} for f in dfields
    ]
    schema_string = json.dumps({"type": "struct", "fields": [
        {**f, "metadata": {}} for f in dfields
    ]})
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {"commitInfo": {
            "timestamp": now_ms, "operation": "CONVERT",
            "operationParameters": {"sourceFormat": "parquet"},
        }},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": part_cols,
            "configuration": {},
            "createdTime": now_ms,
        }},
    ]
    total_rows = 0
    staged = [(fp, {c: pv.get(c) for c in part_cols}) for fp, pv in files]
    for f in lakefiles.read(staged, spark):
        total_rows += f.rows or 0
        actions.append({"add": lakefiles.to_delta_add(f, table, now_ms)})
    commit(
        table, None, actions, reads="table",
        checkpoint_interval=p.get("checkpointInterval"),
    )
    return {"converted_files": len(files), "rows": total_rows,
            "partition_columns": part_cols}


def sync_uniform_append(
    table: str, add_actions: list[dict], delta_version: int | None = None
) -> bool:
    """Incremental UniForm fast path: a BLIND APPEND chains one iceberg
    append snapshot carrying only the new files — O(batch) metadata, not
    O(live files).  This is what keeps per-commit sync viable on a
    100 TB table: the steady-state ingest path never re-walks the table.
    Returns False when the shape doesn't fit (caller full-regens):
    no iceberg metadata yet, a v3/DV table (full regen keeps the DV
    manifests and row-id space coherent), or a schema drift."""
    from pipeline_spark.functions.icebergpart import parse_dir_value
    from pipeline_spark.sinks.iceberg_native import (
        Added,
        Change,
        IcebergTable,
        _name_mapping_names,
        commit_changes,
        current_schema,
        default_spec,
    )

    try:
        handle = IcebergTable({"path": table})
    except (FileNotFoundError, ValueError):
        return False
    meta = handle.meta
    props = meta.get("properties") or {}
    if props.get("delta.universalFormat") != "true":
        return False
    if int(meta.get("format-version", 2)) >= 3:
        return False
    if delta_version is not None:
        # the mirror must reflect the IMMEDIATELY-PRIOR delta version —
        # chaining a batch onto a stale mirror (an earlier sync failed)
        # would silently drop the missed commits; full regen self-heals
        if props.get("delta.uniform.deltaVersion") != str(delta_version - 1):
            return False
    if meta.get("current-snapshot-id") not in {
        s.get("snapshot-id") for s in meta.get("snapshots") or []
    }:
        return False
    cur_schema = current_schema(meta)
    # physical (file-side) name per field id via the name-mapping the
    # converter wrote (names[0] = physical); the manifests' write schema
    # names columns as the files carry them, and keys their stats
    phys_by_id = {fid: names[0]
                  for fid, names in _name_mapping_names(meta).items() if names}
    spec = default_spec(meta)
    by_id = {f["id"]: f for f in cur_schema["fields"]}
    if any(sf.get("transform") != "identity" for sf in spec.get("fields", [])):
        return False
    part_kinds = []
    for sf in spec.get("fields", []):
        src_f = by_id.get(sf.get("source-id"))
        if src_f is None:
            return False
        kind = "long" if src_f["type"] in ("int", "long") else "string"
        part_kinds.append(
            (sf["name"], phys_by_id.get(src_f["id"], src_f["name"]), kind)
        )
    write_fields = [
        {**f, "name": phys_by_id.get(f["id"], f["name"])}
        for f in cur_schema["fields"]
    ]
    added = []
    for a in add_actions:
        f = lakefiles.DataFile.from_delta_stats(table, a)
        if f.rows is None:
            return False  # no numRecords: let the full regen footer-read
        added.append(Added(f, {
            pname: parse_dir_value(f.partition.get(phys), kind)
            for pname, phys, kind in part_kinds
        }))
    if not added:
        return False
    updates = []
    if delta_version is not None:
        updates.append({"action": "set-properties", "updates": {
            "delta.uniform.deltaVersion": str(delta_version),
        }})
    # the mirror keeps its last 10 snapshots: the delta log owns history
    old_ids = [s["snapshot-id"] for s in meta.get("snapshots") or []][:-9]
    if old_ids:
        updates.append({"action": "remove-snapshots", "snapshot-ids": old_ids})
    commit_changes(handle, meta, Change(
        "append", added=added, updates=updates,
        summary={"converted-from": "delta-uniform-append"},
        schema={**cur_schema, "fields": write_fields},
    ), reads="table")
    return True


def _iceberg_metadata_over_delta(
    table: str, *, version: int, stats_source: str, spark=None
) -> dict[str, Any]:
    """Write iceberg metadata over a delta table's current data files.
    ``stats_source="footer"`` reads parquet footers for exact bounds
    (one-shot CONVERT); ``"log"`` translates each add's stats JSON —
    zero file reads, the UniForm per-commit sync path.

    r10: the full delta surface translates —

    - column mapping: iceberg field-ids come from each field's
      ``delta.columnMapping.id``; the manifest's embedded write-schema
      carries the PHYSICAL names under those ids, so the reader's
      field-id rename machinery resolves files with no converter-
      specific code;
    - partitions: an identity spec whose per-file partition records are
      each add's ``partitionValues`` (long for int sources, lexical
      strings otherwise — this repo's identity rendering); readers fill
      the physically-absent columns per spec Column Projection rule #2;
    - deletion vectors: each add's DV re-frames as an iceberg v3 puffin
      deletion-vector-v1 blob (same roaring position bitmap), one
      shared container, manifest field-ids 143/144/145, format-version
      3 with row-lineage fields.
    """
    from pipeline_spark.functions.icebergpart import parse_dir_value
    from pipeline_spark.sinks.iceberg_native import (
        Added,
        Change,
        IcebergTable,
        commit_changes,
        create_table,
    )
    from pipeline_spark.sources.delta_native import (
        _column_mapping,
        replay_state,
    )

    meta_dir = os.path.join(table, "metadata")
    adds, dmeta, _proto, _version, _txns = replay_state(table)
    cm = _column_mapping(dmeta)
    dfields = json.loads(dmeta["schemaString"])["fields"]
    if cm:
        no_id = [
            f["name"] for f in dfields
            if (f.get("metadata") or {}).get("delta.columnMapping.id") is None
        ]
        if no_id:
            raise NotImplementedError(
                f"convert: column-mapped delta table records no "
                f"delta.columnMapping.id for {no_id} — cannot assign "
                "stable iceberg field-ids; rewrite through a storage sink"
            )
        fid_of = {
            f["name"]: int(f["metadata"]["delta.columnMapping.id"])
            for f in dfields
        }
    else:
        fid_of = {f["name"]: i + 1 for i, f in enumerate(dfields)}
    phys_of = (cm or {}).get("phys_of") or {}
    ice_fields = [
        {
            "id": fid_of[f["name"]],
            "name": f["name"],
            "required": not f.get("nullable", True),
            "type": _delta_type_to_ice(f["type"]),
        }
        for f in dfields
    ]
    schema = {"type": "struct", "schema-id": 0, "fields": ice_fields}
    # the manifest's embedded write-time schema names columns as the
    # FILES carry them (physical names under column mapping); same ids
    # as the table schema, so plan_files derives physical→logical
    # renames exactly like any other schema-evolved manifest
    write_fields = [
        {**fl, "name": phys_of.get(fl["name"], fl["name"])}
        for fl in ice_fields
    ]
    write_schema = {"type": "struct", "schema-id": 0, "fields": write_fields}
    by_name = {f["name"]: f for f in ice_fields}

    # identity partition spec over delta's partition columns
    part_cols = list(dmeta.get("partitionColumns") or [])
    spec_fields: list[dict] = []
    part_kinds: list[tuple[str, str]] = []
    for j, c in enumerate(part_cols):
        if c not in by_name:
            raise ValueError(f"convert: partition column {c!r} not in schema")
        src = by_name[c]
        spec_fields.append({
            "name": c, "transform": "identity",
            "source-id": src["id"], "field-id": 1000 + j,
        })
        part_kinds.append(
            (c, "long" if src["type"] in ("int", "long") else "string")
        )
    spec = {"spec-id": 0, "fields": spec_fields}

    def typed_partition(a: dict) -> dict:
        pv = a.get("partitionValues") or {}
        return {
            c: parse_dir_value(pv.get(phys_of.get(c, c), pv.get(c)), kind)
            for c, kind in part_kinds
        }

    # name-mapping resolves files written without parquet field ids:
    # list the physical name first (what files carry), the logical name
    # as an alias when mapped
    nm = []
    for fl in ice_fields:
        phys = phys_of.get(fl["name"], fl["name"])
        names = [phys] if phys == fl["name"] else [phys, fl["name"]]
        nm.append({"field-id": fl["id"], "names": names})
    props = {
        "write.format.default": "parquet",
        "schema.name-mapping.default": json.dumps(nm),
    }
    if stats_source == "log":
        # UniForm sync: mark the metadata as delta-owned so the commit
        # hook can gate cheaply without replaying the delta log, and
        # stamp WHICH delta version this mirror reflects — the
        # incremental append path refuses to chain onto a stale mirror
        props["delta.universalFormat"] = "true"
        props["delta.uniform.deltaVersion"] = str(_version)
    handle = IcebergTable({"path": table}, must_exist=False)
    # every conversion starts a fresh one-snapshot table at `version`
    base = {**create_table(handle, {
        "location": table, "schema": schema, "partition-spec": spec,
        "properties": props,
    }), "__version": version - 1}

    dv_adds = [a for a in adds if a.get("deletionVector")]
    if stats_source == "log":
        # UniForm sync path: bounds from the add's stats JSON (the
        # delta writer already computed them) — zero footer reads
        files = [lakefiles.DataFile.from_delta_stats(table, a) for a in adds]
        for f in files:
            if f.rows is None:
                f.rows = lakefiles.read([(f.path, {})])[0].rows
    else:
        files = lakefiles.read([
            (os.path.join(table, urllib.parse.unquote(a["path"])), {})
            for a in adds
        ], spark)
    added = [Added(f, typed_partition(a)) for f, a in zip(files, adds)]
    if dv_adds:
        # delta DV → iceberg v3 DV (the producer raises the table to v3,
        # and a v3 table gives the files explicit row ids): both are
        # roaring position bitmaps over an immutable file; decode each
        # (KB-scale), re-frame as a puffin deletion-vector-v1 blob in
        # ONE shared container
        from pipeline_spark.functions.deltadv import load_dv_positions
        from pipeline_spark.functions.puffin import write_puffin_dvs

        os.makedirs(meta_dir, exist_ok=True)
        puffin_path = os.path.join(meta_dir, f"{uuid.uuid4()}-dv.puffin")
        pairs = []
        for a in dv_adds:
            full = os.path.join(table, urllib.parse.unquote(a["path"]))
            pos = [int(x) for x in load_dv_positions(table, a["deletionVector"])]
            pairs.append((full, pos))
        descs = write_puffin_dvs(puffin_path, pairs)
        psize = os.path.getsize(puffin_path)
        added += [
            Added(lakefiles.DataFile(puffin_path, psize, d["cardinality"]),
                  typed_partition(a), spec_id=0, content=1, dv={
                      "referenced_data_file": d["referenced"],
                      "content_offset": d["offset"],
                      "content_size_in_bytes": d["length"],
                  })
            for a, d in zip(dv_adds, descs)
        ]
    commit_changes(handle, base, Change(
        "append", added=added, summary={"converted-from": "delta"},
        schema=write_schema,
    ), reads="table")
    return {
        "converted_files": len(files),
        "rows": sum(f.rows for f in files),
        "deletion_vectors": len(dv_adds),
        "version": version,
    }


def convert_iceberg_to_delta(spark, p: dict[str, Any]) -> dict[str, Any]:
    """Write a delta log over an iceberg table's current live data
    files.  Footer stats land in each ``add.stats`` so delta-side
    skipping works from commit zero.

    r10: the full surface both formats can express translates —

    - position deletes / v3 puffin DVs → delta deletion vectors (one
      roaring ``.bin`` per referenced file; same position bitmaps);
    - equality deletes (r11) → MATERIALIZED into the same per-file DVs:
      a distributed semi-join finds the (file, ordinal) pairs each
      equality delete matches under the spec's null-safe-equality +
      strict-sequence rule, zero data rewrite;
    - identity-fill tables (files that never materialized their
      identity partition columns — e.g. tables this module converted
      FROM delta, or ``add_files`` imports) → partitioned delta with
      per-file ``partitionValues``, delta's native layout for exactly
      that shape;
    - renamed columns (schema-evolved manifests) → delta column mapping
      when every live file shares ONE physical name per column (delta
      records one physicalName, not per-file names — compact first
      otherwise); added columns null-pad and dropped parquet columns
      are ignored by delta's schema-first read, so neither blocks.
    """
    from pipeline_spark.sources.iceberg_native import (
        parse_legacy_global_deletes as _plgd,
    )

    _plgd(p)  # fail typos at parameter-parse time
    from pipeline_spark.sinks.delta_native import commit
    from pipeline_spark.sinks.iceberg_native import current_schema
    from pipeline_spark.sources.iceberg_native import (
        identity_fill_plan,
        norm_path,
        plan_files,
    )

    table = _strip_scheme(
        str(p.get("path") or p.get("table") or p.get("source") or "")
    )
    if not table:
        raise ValueError("convert: 'path' of the iceberg table is required")
    log_dir = os.path.join(table, "_delta_log")
    if os.path.isdir(log_dir) and os.listdir(log_dir):
        raise FileExistsError(
            f"convert: {table} already carries a delta log"
        )
    data, deletes, imeta = plan_files(table)
    cur_schema = current_schema(imeta)
    # v3 initial-defaults have no delta equivalent: a file written
    # BEFORE a defaulted column existed reads the default on the
    # iceberg side but NULL through delta's schema-first null-pad —
    # silent value drift across the conversion; compact first (the
    # rewrite materializes the default into the files)
    defaulted = {
        f["name"] for f in cur_schema["fields"]
        if f.get("initial-default") is not None
    }
    if defaulted:
        hit_default = sorted({
            a for d in data for a in (d.get("absent") or ())
            if a in defaulted
        })
        if hit_default:
            raise NotImplementedError(
                f"convert: columns {hit_default} carry v3 initial-defaults "
                "that files written before them would lose as NULLs on "
                "the delta side — compact first to materialize them"
            )

    # renamed columns → delta column mapping, valid only when every live
    # file agrees on ONE physical name per column (files from manifests
    # without a rename carry the CURRENT name physically)
    phys_names: dict[str, set] = {}
    for d in data:
        ren = dict((cur, w) for (w, cur) in (d.get("renames") or ()))
        for f in cur_schema["fields"]:
            phys_names.setdefault(f["name"], set()).add(
                ren.get(f["name"], f["name"])
            )
    mixed = sorted(c for c, s in phys_names.items() if len(s) > 1)
    if mixed:
        raise NotImplementedError(
            f"convert: columns {mixed} were renamed mid-table — live "
            "files carry more than one physical name, which delta column "
            "mapping cannot express (one physicalName per column); "
            "compact first"
        )
    phys_of = {c: next(iter(s)) for c, s in phys_names.items()}
    cm_needed = any(phys_of[c] != c for c in phys_of)

    # identity-fill files (partition columns never materialized in the
    # parquet) → partitioned delta, delta's NATIVE layout for this shape
    fills, ftypes = identity_fill_plan(data, imeta)
    part_cols = sorted(ftypes) if fills else []
    if fills and len(fills) != len(data):
        raise NotImplementedError(
            "convert: some files materialize their identity partition "
            "columns and some do not — delta partitions all-or-nothing; "
            "compact first"
        )

    dfields = []
    max_id = 0
    for f in cur_schema["fields"]:
        md: dict[str, Any] = {}
        if cm_needed:
            md = {
                "delta.columnMapping.id": int(f["id"]),
                "delta.columnMapping.physicalName": phys_of[f["name"]],
            }
            max_id = max(max_id, int(f["id"]))
        dfields.append({
            "name": f["name"],
            "type": _ice_type_to_delta(f["type"]),
            "nullable": not f.get("required", False),
            "metadata": md,
        })
    schema_string = json.dumps({"type": "struct", "fields": dfields})

    # position deletes (parquet and puffin-DV shapes) → one delta DV per
    # referenced data file.  Delete files are compaction-bounded
    # KB-MB-scale metadata; a one-time driver-side decode matches the
    # conversion's existing O(files) footer walk.
    pos_of: dict[str, list[int]] = {}
    for d in deletes:
        if d["content"] != 1:
            continue  # equality deletes translate below (semi-join)
        if d.get("content_offset") is not None:
            from pipeline_spark.functions.puffin import read_dv_positions

            pos_of.setdefault(norm_path(d["referenced_data_file"]), []).extend(
                int(x) for x in read_dv_positions(
                    d["path"], d["content_offset"], d["content_size_in_bytes"]
                )
            )
        else:
            import pyarrow.parquet as pq

            t = pq.read_table(d["path"], columns=["file_path", "pos"])
            for fp, pos in zip(
                t.column("file_path").to_pylist(), t.column("pos").to_pylist()
            ):
                pos_of.setdefault(norm_path(fp), []).append(int(pos))

    # equality deletes → positions (r11, VERDICT r10 ask #4): delta
    # deletes by position only, so materialize each equality delete as
    # the (file, ordinal) set it matches — the SAME null-safe
    # equality + strict-sequence condition the MOR reader anti-joins
    # with (sources/iceberg_native.py _apply_row_deletes), flipped to a
    # semi-join and executed DISTRIBUTED over only the data files whose
    # seq a delete can reach.  Only the matched positions (the rows a
    # compaction would drop — delete-scale, not table-scale) pass
    # through the driver, landing in the same per-file roaring DVs the
    # position-delete path writes.  Zero data rewrite.
    eq_dels = [d for d in deletes if d["content"] == 2]
    if eq_dels:
        from functools import reduce

        from pyspark.sql import functions as F

        from pipeline_spark.sources.iceberg_native import (
            apply_identity_fill,
            evolved_scan,
            parse_legacy_global_deletes,
            plan_equality_deletes,
        )

        max_eseq = max(d["seq"] for d in eq_dels)
        affected = [d for d in data if d["seq"] < max_eseq]
        hits = None
        if affected:
            scan = evolved_scan(
                spark, spark.read, affected, cur_schema["fields"],
                with_lineage=True,
            )
            if fills:
                scan = apply_identity_fill(spark, scan, fills, ftypes)
            seq_rows, eq_groups = plan_equality_deletes(
                spark, eq_dels, affected, imeta,
                legacy_global_deletes=parse_legacy_global_deletes(p),
                all_data=data,
            )
            from pipeline_spark.functions.localframe import local_frame

            seq_df = local_frame(
                spark, seq_rows,
                "__sfp__ string, __dseq__ long, __dpart__ string",
            )
            scan = scan.join(
                F.broadcast(seq_df), scan["__fp__"] == seq_df["__sfp__"],
                "left",
            )
            for cols, dels, pkey in eq_groups:
                cond = reduce(
                    lambda a, b: a & b,
                    [scan[c].eqNullSafe(dels[f"__eq_{c}__"]) for c in cols],
                ) & (scan["__dseq__"] < dels["__eseq__"])
                if pkey is not None:
                    # partition-scoped delete: same-partition files only
                    cond = cond & (scan["__dpart__"] == F.lit(pkey))
                g = scan.join(dels, cond, "left_semi").select(
                    "__fp__", "__pos__"
                )
                hits = g if hits is None else hits.unionByName(g)
        if hits is not None:
            for r in hits.distinct().collect():
                pos_of.setdefault(r["__fp__"], []).append(int(r["__pos__"]))

    conf: dict[str, str] = {}
    reader_feats: list[str] = []
    if cm_needed:
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
        reader_feats.append("columnMapping")
    if pos_of:
        conf["delta.enableDeletionVectors"] = "true"
        reader_feats.append("deletionVectors")
    if reader_feats:
        protocol: dict[str, Any] = {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(reader_feats),
            "writerFeatures": sorted(reader_feats),
        }
    else:
        protocol = {"minReaderVersion": 1, "minWriterVersion": 2}

    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {"commitInfo": {
            "timestamp": now_ms, "operation": "CONVERT",
            "operationParameters": {"sourceFormat": "iceberg"},
        }},
        {"protocol": protocol},
        {"metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": part_cols,
            "configuration": conf,
            "createdTime": now_ms,
        }},
    ]
    for d in data:
        if os.path.relpath(d["path"], table).startswith(".."):
            raise ValueError(
                f"convert: data file {d['path']} lives outside the table "
                "root — delta add paths must be table-relative"
            )
    total_rows = 0
    n_dvs = 0
    staged = [
        (d["path"], {
            c: (None if fv.get(c) is None else str(fv[c])) for c in part_cols
        })
        for d in data for fv in [fills.get(d["path"]) or {}]
    ]
    for f in lakefiles.read(staged, spark):
        full = f.path
        total_rows += f.rows or 0
        add = lakefiles.to_delta_add(f, table, now_ms)
        positions = pos_of.pop(norm_path(full), None)
        if positions:
            from pipeline_spark.functions.deltadv import (
                make_dv_descriptor_relative,
            )

            desc, target, blob = make_dv_descriptor_relative(
                table, sorted(set(positions))
            )
            with open(target, "wb") as fh:
                fh.write(blob)
            add["deletionVector"] = desc
            n_dvs += 1
        actions.append({"add": add})
    if pos_of:
        raise ValueError(
            "convert: delete files reference data files not in the "
            f"current snapshot: {sorted(pos_of)[:3]}"
        )
    commit(
        table, None, actions, reads="table",
        checkpoint_interval=p.get("checkpointInterval"),
    )
    return {
        "converted_files": len(data),
        "rows": total_rows,
        "deletion_vectors": n_dvs,
    }


@module("tableconvert", kind=KIND_SINK)
def tableconvert_sink(ctx: ModuleContext) -> dict:
    """``to: iceberg`` converts a delta table in place; ``to: delta``
    converts an iceberg table — or, with ``from: parquet``, a plain
    hive-layout parquet directory (delta-spark's CONVERT TO DELTA; the
    iceberg direction of that is ``mode: addFiles`` on the iceberg
    sink).  The module input passes through (the table is the operand,
    like the other maintenance sinks)."""
    p = ctx.params
    to = str(p.get("to", "")).lower()
    frm = str(p.get("from", "")).lower()
    if to == "iceberg":
        if frm == "parquet":
            from pipeline_spark.sinks.iceberg_addfiles import (
                add_files_iceberg_native,
            )

            add_files_iceberg_native(ctx.spark, {
                **p, "sourceDir": p.get("sourceDir") or p.get("path"),
                "path": p.get("target") or p.get("path"),
            })
        else:
            convert_delta_to_iceberg(ctx.spark, p)
    elif to == "delta":
        if frm == "parquet":
            convert_parquet_to_delta(ctx.spark, p)
        else:
            convert_iceberg_to_delta(ctx.spark, p)
    else:
        raise ValueError("tableconvert: 'to' must be 'iceberg' or 'delta'")
    return {"": ctx.input}
