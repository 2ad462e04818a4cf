"""Native Delta Lake sink: commit filesystem tables without the jar.

Counterpart of sources/delta_native.py (public PROTOCOL.md format; the
reference's warehouse sinks — BigQuerySink.java:35-894 et al. — write
through vendor runtimes, which is the posture our jar path mirrors for
Iceberg).  Spark writes the parquet data files in parallel; the driver
then appends ONE line-delimited JSON commit to ``_delta_log/`` — zero
row motion through the driver, the same shape as Delta's own commit.

  create     first commit: protocol + metaData + add actions
  append     new add actions (schema + partitioning checked against the
             table's metaData before any data is staged)
  overwrite  remove actions for every live file + new add actions

Data files land under ``<table>/data-<uuid>/`` (paths in the log are
table-relative, so readers — ours and delta-spark — resolve them; the
per-commit directory keeps staging atomic and vacuum-friendly).
Partitioned writes keep Spark's hive layout inside that directory, so
the native reader's basePath fast path prunes by directory.

Every version — write, compaction, DML, merge, clone, restore, alter
and the ``tableconvert`` creates — is published by one :func:`commit`:
it stamps the In-Commit Timestamp and row-tracking ids, claims the
version file create-exclusively (a racing writer always loses loudly),
rebases a loser over the commits that beat it when they do not touch
what the operation read (delta-spark's optimistic-concurrency rules),
and then writes a checkpoint every ``checkpointInterval`` versions
(default 10; parquet + ``_last_checkpoint``, so log replay stays
O(live files), not O(commits)) and syncs the UniForm mirror.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from typing import Any

from pipeline_spark.registry import KIND_SINK, ModuleContext, module
from pipeline_spark.sinks.drive import write_batches
from pipeline_spark.sources.delta_native import (
    _log_dir,
    latest_version,
    replay_domains,
    replay_log,
    replay_state,
)


def _footer_stats(path: str) -> str | None:
    """Protocol-shaped stats JSON from a parquet footer (no data read).

    min/max are recorded for numeric/boolean/date/timestamp columns, and
    (r8) for SHORT strings: the parquet writers in play (parquet-mr via
    Spark, arrow C++) emit binary statistics exact-or-absent — oversized
    values drop the statistic rather than truncating it — so a present
    string min/max under 256 chars is exact and safe to skip on (a
    truncated max would under-cover the file, which is why long values
    stay excluded).  Raw ``bytes`` stats stay excluded (no JSON shape).
    nullCount and numRecords cover every top-level column.  Nested
    columns (dotted path) are skipped entirely.
    """
    import datetime

    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    per_col: dict[str, list] = {}
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            col = rg.column(j)
            if "." in col.path_in_schema:
                continue
            per_col.setdefault(col.path_in_schema, []).append(col.statistics)
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}

    def _ok(v) -> bool:
        if isinstance(v, bytes):
            return False
        if isinstance(v, str):
            return len(v) < 256
        return True

    for name, stats in per_col.items():
        # a statistic is usable only when EVERY row group carries it —
        # partial coverage would under-state the file
        if all(st is not None and st.null_count is not None for st in stats):
            nulls[name] = sum(st.null_count for st in stats)
        if all(
            st is not None
            and st.has_min_max
            and _ok(st.min)
            and _ok(st.max)
            for st in stats
        ):
            mins[name] = min(st.min for st in stats)
            maxs[name] = max(st.max for st in stats)

    def enc(v):
        if isinstance(v, datetime.datetime):
            # normalize tz-aware stats (TIMESTAMP_MICROS footers surface
            # as UTC-aware datetimes) to naive UTC before isoformat: a
            # trailing '+00:00' would lexicographically sort AFTER every
            # suffix-free filter literal and silently prune live files
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return v.isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
        return v

    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": {k: enc(v) for k, v in mins.items()},
            "maxValues": {k: enc(v) for k, v in maxs.items()},
            "nullCount": nulls,
        }
    )


def _collect_file_stats(spark, paths: list[str]) -> dict[str, str]:
    if not paths:
        return {}
    # r15 optimization: footer stats are metadata-scale work (KB-sized
    # reads per file).  For small commits the fixed cost of an RDD job
    # (submit + Python worker round-trip, ~0.1-0.3 s) dwarfs the footer
    # reads themselves, so read them on the driver in a small thread
    # pool (pyarrow releases the GIL during I/O) — the same shape the
    # iceberg sink has always used.  Large commits (many files, e.g. a
    # 100 TB write) keep the distributed path.
    driver_max = int(os.environ.get("SPARK_GRAFT_STATS_DRIVER_MAX", "64"))
    if len(paths) <= driver_max:
        from concurrent.futures import ThreadPoolExecutor

        def one(pth):
            try:
                return pth, _footer_stats(pth)
            except Exception:
                return pth, None  # stats are an optimization, never a failure

        if len(paths) == 1:
            pairs = [one(paths[0])]
        else:
            with ThreadPoolExecutor(max_workers=min(8, len(paths))) as ex:
                pairs = list(ex.map(one, paths))
        return {pth: st for pth, st in pairs if st}

    def per_path(it):
        for pth in it:
            try:
                yield pth, _footer_stats(pth)
            except Exception:
                yield pth, None  # stats are an optimization, never a failure

    n = max(1, min(len(paths), 64))
    pairs = spark.sparkContext.parallelize(paths, n).mapPartitions(per_path).collect()
    return {pth: st for pth, st in pairs if st}


def _merge_schemas(prev_json: str, new_json: str) -> str:
    """Union of two Spark schema JSONs by top-level field name
    (delta-spark's mergeSchema contract): existing fields keep their
    type (a type CHANGE still refuses — that needs a rewrite), new
    fields append as nullable."""
    prev = json.loads(prev_json)
    new = json.loads(new_json)
    by_name = {f["name"]: f for f in prev.get("fields", [])}
    out = list(prev.get("fields", []))
    for f in new.get("fields", []):
        cur = by_name.get(f["name"])
        if cur is None:
            out.append({**f, "nullable": True})
        elif json.dumps(cur["type"], sort_keys=True) != json.dumps(
            f["type"], sort_keys=True
        ):
            raise ValueError(
                f"delta sink: mergeSchema cannot change column "
                f"'{f['name']}' from {cur['type']} to {f['type']} — "
                "type changes need a rewrite"
            )
    return json.dumps({**prev, "fields": out})


def _type_no_md(node):
    """A type JSON with all field metadata stripped recursively — column
    mapping annotates nested fields, which must not fail the
    name+type-only fingerprint comparison."""
    if not isinstance(node, dict):
        return node
    out = dict(node)
    t = node.get("type")
    if t == "struct":
        out["fields"] = [
            {
                "name": f["name"],
                "type": _type_no_md(f["type"]),
                "nullable": f.get("nullable", True),
            }
            for f in node["fields"]
        ]
    elif t == "array":
        out["elementType"] = _type_no_md(node["elementType"])
    elif t == "map":
        out["keyType"] = _type_no_md(node["keyType"])
        out["valueType"] = _type_no_md(node["valueType"])
    return out


def _schema_fingerprint(schema_json: str) -> list[tuple[str, str]]:
    fields = json.loads(schema_json).get("fields", [])
    return sorted(
        (f["name"], json.dumps(_type_no_md(f["type"]), sort_keys=True))
        for f in fields
    )


def _assign_physical(schema_json: str, start_id: int) -> tuple[str, int]:
    """Assign ``delta.columnMapping.{id,physicalName}`` metadata to every
    field that lacks them (recursively — nested struct/array/map fields
    get their own ids, like delta-spark's mapping assignment).  Returns
    (annotated schema JSON, highest id used) so the caller can record
    ``delta.columnMapping.maxColumnId``."""
    next_id = start_id

    def walk_type(t):
        if not isinstance(t, dict):
            return t
        out = dict(t)
        k = t.get("type")
        if k == "struct":
            out["fields"] = [walk_field(f) for f in t["fields"]]
        elif k == "array":
            out["elementType"] = walk_type(t["elementType"])
        elif k == "map":
            out["keyType"] = walk_type(t["keyType"])
            out["valueType"] = walk_type(t["valueType"])
        return out

    def walk_field(f):
        nonlocal next_id
        md = dict(f.get("metadata") or {})
        if "delta.columnMapping.physicalName" not in md:
            next_id += 1
            md["delta.columnMapping.id"] = next_id
            md["delta.columnMapping.physicalName"] = f"col-{uuid.uuid4()}"
        return {**f, "metadata": md, "type": walk_type(f["type"])}

    sj = json.loads(schema_json)
    sj["fields"] = [walk_field(f) for f in sj.get("fields", [])]
    return json.dumps(sj), next_id


def write_delta_native(
    spark, df, p: dict[str, Any], txn: tuple[str, int] | None = None
) -> None:
    """Commit ``df`` to a filesystem Delta table.

    ``txn=(appId, version)`` makes the commit idempotent (PROTOCOL.md:
    Transaction Identifiers): if the table already records this appId at
    or past this version, the write is a no-op — the streaming sink's
    replayed-micro-batch protection.
    """
    table = p.get("path") or p.get("table") or p.get("output")
    if not table:
        raise ValueError("delta sink: 'path' is required")
    mode = str(p.get("mode", "append")).lower()
    if mode not in ("append", "overwrite", "errorifexists", "create"):
        raise ValueError(f"delta sink: unknown mode '{mode}'")
    replace_where = p.get("replaceWhere")
    if replace_where and mode != "overwrite":
        raise ValueError("delta sink: replaceWhere needs mode: overwrite")
    if isinstance(replace_where, dict):
        replace_where = [replace_where]
    part_cols = list(p.get("partitionBy") or [])
    log_dir = os.path.join(table, "_delta_log")
    prev_version = latest_version(log_dir) if os.path.isdir(log_dir) else None
    exists = prev_version is not None

    from pipeline_spark.sources.delta_native import (
        _column_mapping,
        to_physical_df,
    )

    prev_adds: list[dict] = []
    evolved_schema: str | None = None
    evolved_conf: dict | None = None
    cm: dict | None = None
    props = {
        str(k): str(v).lower() if isinstance(v, bool) else str(v)
        for k, v in (p.get("properties") or {}).items()
    }
    # generated columns (PROTOCOL.md: Generated Columns / delta-spark
    # GENERATED ALWAYS AS): expressions live in field metadata
    # (delta.generationExpression).  A write missing the column COMPUTES
    # it; a write providing it is null-safe-equality-ENFORCED against
    # the expression through the same Observation that checks CHECK
    # constraints.  Expressions are fixed at create.
    generated = {
        str(k): str(v)
        for k, v in (p.get("generatedColumns") or {}).items()
    }
    provided_cols = set(df.columns)
    if not exists and generated:
        from pyspark.sql import functions as F

        for c, e in generated.items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(e))
        _sj = json.loads(df.schema.json())
        for f in _sj["fields"]:
            if f["name"] in generated:
                f["metadata"] = {
                    **(f.get("metadata") or {}),
                    "delta.generationExpression": generated[f["name"]],
                }
        create_schema_json = json.dumps(_sj)
    else:
        create_schema_json = df.schema.json()
    snapshot = None
    if exists:
        snapshot = replay_state(table, prev_version)
        prev_adds, prev_meta, _proto, _v, prev_txns = snapshot
        # idempotence FIRST: a replayed streaming micro-batch must no-op
        # even under mode create/errorifexists, not crash-loop the stream
        if txn is not None and int(txn[1]) <= prev_txns.get(txn[0], -1):
            return  # this transaction already committed — replayed batch
        if mode in ("errorifexists", "create"):
            raise FileExistsError(f"delta sink: table already exists at {table}")
        if mode == "overwrite":
            _refuse_append_only(prev_meta, "overwrite")
        # inherit generation expressions from the table schema; computing
        # absent generated columns must happen BEFORE the fingerprint
        # check (their absence in the input is the normal case)
        table_gen = {
            f["name"]: (f.get("metadata") or {})["delta.generationExpression"]
            for f in json.loads(prev_meta["schemaString"])["fields"]
            if (f.get("metadata") or {}).get("delta.generationExpression")
        }
        new_gen = {
            c: e for c, e in generated.items() if c not in table_gen
        }
        if new_gen:
            raise ValueError(
                f"delta sink: generatedColumns {sorted(new_gen)} not "
                "declared on the table — generation expressions are "
                "fixed at create"
            )
        generated = table_gen
        if generated:
            from pyspark.sql import functions as F

            for c, e in generated.items():
                if c not in df.columns:
                    df = df.withColumn(c, F.expr(e))
        # schema/partitioning drift fails BEFORE data is staged —
        # unless mergeSchema evolves the table (delta-spark's option):
        # the union schema commits a new metaData action, and readers
        # null-pad old files automatically (the parquet scan runs under
        # the table schema, absent columns read as null)
        if _schema_fingerprint(prev_meta["schemaString"]) != _schema_fingerprint(
            df.schema.json()
        ):
            if p.get("mergeSchema"):
                evolved_schema = _merge_schemas(
                    prev_meta["schemaString"], df.schema.json()
                )
            else:
                raise ValueError(
                    "delta sink: schema mismatch with the existing table — "
                    "set mergeSchema: true to evolve it (adds/permits new "
                    "nullable columns) or write elsewhere"
                )
        if list(prev_meta.get("partitionColumns") or []) != part_cols:
            raise ValueError(
                f"delta sink: partitionBy {part_cols} != table partitioning "
                f"{prev_meta.get('partitionColumns')}"
            )
        prev_conf = prev_meta.get("configuration") or {}
        if prev_conf.get("delta.columnMapping.mode") not in (None, "", "none"):
            # column-mapped table: data files write under PHYSICAL names;
            # new mergeSchema columns get fresh physical names + ids
            if evolved_schema is not None:
                evolved_schema, max_id = _assign_physical(
                    evolved_schema,
                    int(prev_conf.get("delta.columnMapping.maxColumnId", 0)),
                )
                evolved_conf = {
                    **prev_conf,
                    "delta.columnMapping.maxColumnId": str(max_id),
                }
            cm = _column_mapping({
                **prev_meta,
                "schemaString": evolved_schema or prev_meta["schemaString"],
            })
    else:
        cm_mode = props.get("delta.columnMapping.mode")
        if cm_mode not in (None, "", "none"):
            if cm_mode not in ("name", "id"):
                raise ValueError(
                    f"delta sink: unknown columnMapping.mode '{cm_mode}' "
                    "(name/id)"
                )
            create_schema_json, max_id = _assign_physical(
                create_schema_json, 0
            )
            props["delta.columnMapping.maxColumnId"] = str(max_id)
            cm = _column_mapping({
                "configuration": props, "schemaString": create_schema_json,
            })

    phys_part_cols = (
        [cm["phys_of"].get(c, c) for c in part_cols] if cm else part_cols
    )
    # liquid clustering (PROTOCOL.md: Clustered Table + Domain Metadata):
    # clusterBy at create records the column list in the delta.clustering
    # domain; every write clusters its files via sortWithinPartitions (no
    # shuffle) and OPTIMIZE re-clusters on these columns by default
    cluster_by = [str(c) for c in (p.get("clusterBy") or [])]
    if exists:
        # protocol-gated: only clustered tables list the domainMetadata
        # writer feature, so plain tables skip the domain replay walk
        dm = (
            replay_domains(table).get("delta.clustering")
            if "domainMetadata" in (_proto.get("writerFeatures") or [])
            else None
        )
        existing_cluster: list[str] = []
        if dm:
            try:
                existing_cluster = [
                    c[-1] if isinstance(c, list) else str(c)
                    for c in json.loads(dm.get("configuration") or "{}")
                    .get("clusteringColumns") or []
                ]
            except (ValueError, TypeError):
                existing_cluster = []
        if cluster_by and existing_cluster and cluster_by != existing_cluster:
            raise ValueError(
                f"delta sink: clusterBy {cluster_by} differs from the "
                f"table's clustering columns {existing_cluster}; changing "
                "them needs a new table (or drop the param to inherit)"
            )
        cluster_by = cluster_by or existing_cluster
    if cluster_by:
        missing_c = [c for c in cluster_by if c not in df.columns]
        if missing_c:
            raise ValueError(
                f"delta sink: clusterBy columns {missing_c} not in input"
            )
    # CHECK constraints (PROTOCOL.md: delta.constraints.* table
    # properties, writer-must-enforce): violations counted through an
    # Observation riding the data write itself — zero extra scan; a
    # violated write removes its staged files and never commits
    conf_src = (prev_meta.get("configuration") or {}) if exists else props
    constraints = {
        k[len("delta.constraints."):]: v
        for k, v in conf_src.items()
        if k.startswith("delta.constraints.") and str(v).strip()
    }
    for c, e in generated.items():
        # user-provided values for a generated column must equal the
        # expression (null-safe) — delta-spark's writer contract
        if c in provided_cols:
            constraints[f"generated column {c}"] = f"`{c}` <=> ({e})"
    obs = None
    if constraints:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        df = df.observe(
            obs,
            *[
                # SQL CHECK semantics: only FALSE violates (null passes)
                F.count(F.when(~F.expr(str(sql)), F.lit(1))).alias(name)
                for name, sql in constraints.items()
            ],
        )
    obs_rw = None
    if replace_where:
        # delta's replaceWhere contract: every incoming row must satisfy
        # the predicate (rows with a NULL evaluation do NOT satisfy it);
        # counted by an Observation riding the same write.  Enforced on
        # the FIRST write of a table too — delta-spark always validates
        # incoming rows, table existence only changes what gets removed.
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from pipeline_spark.sources.delta_native import data_filter_condition

        obs_rw = Observation()
        df = df.observe(
            obs_rw,
            F.count(
                F.when(
                    ~F.coalesce(
                        data_filter_condition(replace_where), F.lit(False)
                    ),
                    F.lit(1),
                )
            ).alias("violations"),
        )
    commit_id = uuid.uuid4().hex
    data_dir = f"data-{commit_id}"
    staging = os.path.join(table, data_dir)
    df_to_stage = (
        df.sortWithinPartitions(*cluster_by) if cluster_by else df
    )
    writer = to_physical_df(df_to_stage, cm).write.mode("errorifexists")
    if part_cols:
        writer = writer.partitionBy(*phys_part_cols)
    for bcol in p.get("bloomFilterColumns") or []:
        # parquet bloom filters: row-group point-lookup skipping for
        # high-cardinality keys whose min/max bounds can't prune
        writer = writer.option(f"parquet.bloom.filter.enabled#{bcol}", "true")
    writer.parquet(staging)
    if obs is not None:
        violated = {k: v for k, v in obs.get.items() if v}
        if violated:
            import shutil as _shutil

            _shutil.rmtree(staging, ignore_errors=True)
            detail = ", ".join(
                f"'{k}' ({constraints[k]}): {v} row(s)"
                for k, v in violated.items()
            )
            raise ValueError(
                f"delta sink: CHECK constraint violation — {detail}; "
                "nothing was committed"
            )
    if obs_rw is not None:
        bad = int(obs_rw.get.get("violations", 0))
        if bad:
            import shutil as _shutil

            _shutil.rmtree(staging, ignore_errors=True)
            raise ValueError(
                f"delta sink: replaceWhere violation — {bad} incoming "
                f"row(s) do not satisfy {replace_where}; nothing was "
                "committed"
            )

    now_ms = int(time.time() * 1000)
    adds = _staged_adds(table, staging, now_ms)
    # per-file column statistics (protocol `add.stats` JSON) so readers can
    # skip whole files against pushed predicates — the 100 TB scan-
    # reduction path (footer-only reads)
    _stamp_stats(df.sparkSession, adds)

    actions: list[dict] = []
    ict_on_create = (
        str(props.get("delta.enableInCommitTimestamps", "")).lower() == "true"
    )
    v2ckpt_on_create = (
        str(props.get("delta.checkpointPolicy", "")).lower() == "v2"
    )
    # row tracking (PROTOCOL.md Row Tracking): stable row identity —
    # fresh rows take baseRowId + position; rewrites preserve ids via
    # the MATERIALIZED columns named in the table config
    rowtrack_on_create = (
        str(props.get("delta.enableRowTracking", "")).lower() == "true"
    )
    if rowtrack_on_create:
        props.setdefault(
            "delta.rowTracking.materializedRowIdColumnName",
            f"_row_id_col_{uuid.uuid4().hex[:12]}",
        )
        props.setdefault(
            "delta.rowTracking.materializedRowCommitVersionColumnName",
            f"_row_commit_version_col_{uuid.uuid4().hex[:12]}",
        )
    if not exists:
        if (ict_on_create or v2ckpt_on_create or cluster_by
                or rowtrack_on_create):
            # table features: features protocol required (minWriterVersion
            # 7 lists every writer feature in use; reader features bump
            # minReaderVersion to 3)
            wfeats = {"inCommitTimestamp"} if ict_on_create else set()
            rfeats = set()
            if cm:
                wfeats.add("columnMapping")
                rfeats.add("columnMapping")
            if v2ckpt_on_create:
                # v2Checkpoint is BOTH a reader and writer feature
                # (PROTOCOL.md: V2 Checkpoint Table Feature)
                wfeats.add("v2Checkpoint")
                rfeats.add("v2Checkpoint")
            if cluster_by:
                # clustered tables: writer-only features — readers
                # ignore clustering entirely (PROTOCOL.md)
                wfeats |= {"clustering", "domainMetadata"}
            if generated:
                wfeats.add("generatedColumns")
            if rowtrack_on_create:
                # writer-only: readers may ignore row ids (PROTOCOL.md)
                wfeats |= {"rowTracking", "domainMetadata"}
            proto: dict[str, Any] = {
                "minReaderVersion": 3 if rfeats else 1,
                "minWriterVersion": 7,
                "writerFeatures": sorted(wfeats),
            }
            if rfeats:
                proto["readerFeatures"] = sorted(rfeats)
            actions.append({"protocol": proto})
        else:
            # column mapping needs reader 2 / writer 5 (PROTOCOL.md)
            # legacy versions: columnMapping needs reader2/writer5;
            # generated columns writer4 (both cumulative)
            proto_rw = (2, 5) if cm else ((1, 4) if generated else (1, 2))
            actions.append({
                "protocol": {
                    "minReaderVersion": proto_rw[0],
                    "minWriterVersion": proto_rw[1],
                }
            })
        actions.append({
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": create_schema_json,
                "partitionColumns": part_cols,
                "configuration": props,
                "createdTime": now_ms,
            }
        })
        if cluster_by:
            actions.append({
                "domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {"clusteringColumns": [[c] for c in cluster_by]}
                    ),
                    "removed": False,
                }
            })
    if evolved_schema is not None:
        # schema evolution: re-commit the metaData action with the union
        # schema; everything else (id, partitioning) stays — except the
        # bumped maxColumnId on column-mapped tables
        evolved_md = {**prev_meta, "schemaString": evolved_schema}
        if evolved_conf is not None:
            evolved_md["configuration"] = evolved_conf
        actions.append({"metaData": evolved_md})
    if mode == "overwrite" and exists:
        if replace_where:
            # predicate-scoped overwrite: only files the predicate can
            # touch are removed (partial matches rewrite their survivor
            # rows into fresh files, DV/column-mapping aware); untouched
            # files never move — all in THIS one commit
            rw_removes, rw_adds = _replace_where_rewrites(
                spark, table, snapshot[:4],
                replace_where, commit_id, now_ms,
            )
            actions.extend({"remove": r} for r in rw_removes)
            adds = adds + rw_adds
        else:
            for a in prev_adds:
                actions.append({
                    "remove": {
                        "path": a["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                })
    actions.extend({"add": a} for a in adds)
    op_params = {"mode": mode, "partitionBy": json.dumps(part_cols)}
    if replace_where:
        op_params["predicate"] = json.dumps(replace_where)
    actions.append({
        "commitInfo": {
            "timestamp": now_ms,
            "operation": "WRITE",
            "operationParameters": op_params,
        }
    })
    # a blind append rebases over commits that keep the schema,
    # partitioning and constraints its rows were checked against, a
    # replaceWhere over commits outside its domain; a create, a full
    # overwrite or a schema evolution never — what they replace IS the
    # snapshot
    if not exists or evolved_schema is not None:
        reads: str | list[dict] = "table"
    elif replace_where:
        reads = replace_where
    else:
        reads = "append" if mode == "append" else "table"
    version, _retries = commit(
        table, snapshot, actions, reads=reads, txn=txn,
        checkpoint_interval=p.get("checkpointInterval"),
    )
    if version is None:
        # the racing commit WAS this transaction (replayed batch): drop
        # our staged duplicate, the data is already in
        import shutil as _shutil

        _shutil.rmtree(staging, ignore_errors=True)


def _pv_disproves(
    add: dict, where: list[dict], part_set: set[str],
    phys_of: dict[str, str],
) -> bool:
    """True when the add's recorded partitionValues PROVE no row can
    satisfy the predicate — partition columns never appear in footer
    stats (hive layout strips them), but their per-file value is exact,
    so =/in predicates prune decisively; other ops conservatively keep
    the file."""
    pv = add.get("partitionValues") or {}
    for f in where:
        k = str(f.get("key"))
        if k not in part_set:
            continue
        raw = pv.get(phys_of.get(k, k))
        if raw is None:
            continue
        op = str(f.get("op", "=")).lower()
        want = f.get("value")
        if op == "=" and want is not None and raw != str(want):
            return True
        if op == "in":
            vals = [
                str(w)
                for w in (want if isinstance(want, (list, tuple)) else [want])
            ]
            if raw not in vals:
                return True
    return False


def _replace_where_rewrites(
    spark, table: str, state: tuple, where: list[dict], commit_id: str,
    now_ms: int,
) -> tuple[list[dict], list[dict]]:
    """The delete-side of a replaceWhere overwrite: (remove actions for
    the files holding a row the predicate matches, add dicts for their
    survivor-row rewrites) — a copy-on-write DELETE planned by the
    row-level planner, staged into the write's own commit.  Untouched
    files are never listed — at 100 TB a partition reload removes that
    partition's files, not the table's."""
    return _mutate_where(
        spark, {"path": table, "where": where}, None,
        state=state, staged_by=(commit_id, now_ms),
    )


def compact_delta_native(spark, p: dict[str, Any]) -> dict[str, int]:
    """OPTIMIZE-style bin-packing compaction (protocol-native).

    Streaming ingest leaves a long tail of small files; at scale the
    scheduler cost and open-per-file overhead dominate the scan.  This
    groups live files under ``targetFileBytes`` by partition value,
    bin-packs each group to ~target, rewrites every bin as one file
    (distributed — each bin is a plain parquet read+write), and commits
    ONE version of paired remove+add actions with ``dataChange: false``,
    the protocol's marker that the table's CONTENT is unchanged (readers
    streaming the log as a CDC feed skip it).  Rewritten files carry
    fresh add.stats, so data skipping keeps working after compaction.

    Returns {"compacted_files": n_removed, "new_files": n_added}.
    """
    from pyspark.sql.types import StructType

    table = p.get("path") or p.get("table")
    if not table:
        raise ValueError("delta compact: 'path' is required")
    target = int(p.get("targetFileBytes", 128 * 1024 * 1024))
    min_group = max(2, int(p.get("minFilesPerGroup", 2)))
    from pipeline_spark.sources.delta_native import _column_mapping

    snapshot = replay_state(table)
    prev_adds, meta, _proto, _v, _txns = snapshot
    cm = _column_mapping(meta)
    part_cols = list(meta.get("partitionColumns") or [])
    if cm:
        # compaction is physical-to-physical: data files read AND rewrite
        # under physical names, so the logical mapping never enters
        part_cols = [cm["phys_of"].get(c, c) for c in part_cols]

    if not p.get("zOrderBy"):
        # clustered table (r7): OPTIMIZE re-clusters on the table's own
        # delta.clustering columns by default, delta-spark's contract
        # (protocol-gated so plain tables skip the domain replay walk)
        dm = (
            replay_domains(table).get("delta.clustering")
            if "domainMetadata" in (_proto.get("writerFeatures") or [])
            else None
        )
        if dm:
            try:
                cluster_cols = [
                    c[-1] if isinstance(c, list) else str(c)
                    for c in json.loads(dm.get("configuration") or "{}")
                    .get("clusteringColumns") or []
                ]
            except (ValueError, TypeError):
                cluster_cols = []
            if cluster_cols:
                p = {**p, "zOrderBy": cluster_cols}
    if p.get("zOrderBy"):
        return _zorder_compact(spark, table, p, target, snapshot, cm, part_cols)

    groups: dict[tuple, list[dict]] = {}
    for a in prev_adds:
        if int(a.get("size", 0)) < target:
            key = tuple(sorted((a.get("partitionValues") or {}).items()))
            groups.setdefault(key, []).append(a)
    bins: list[tuple[tuple, list[dict]]] = []
    for key, files in groups.items():
        files.sort(key=lambda a: int(a.get("size", 0)))
        cur: list[dict] = []
        size = 0
        for a in files:
            cur.append(a)
            size += int(a.get("size", 0))
            if size >= target:
                if len(cur) >= min_group:
                    bins.append((key, cur))
                cur, size = [], 0
        if len(cur) >= min_group:
            bins.append((key, cur))
    if not bins:
        return {"compacted_files": 0, "new_files": 0}

    # data files contain only non-partition columns (hive layout strips
    # them); rewrite with that exact (PHYSICAL, on mapped tables) schema
    # so old and new files agree
    full = (
        cm["phys_schema"]
        if cm
        else StructType.fromJson(json.loads(meta["schemaString"]))
    )
    fschema = StructType([f for f in full.fields if f.name not in part_cols])

    commit_id = uuid.uuid4().hex
    data_dir = f"data-compact-{commit_id}"
    now_ms = int(time.time() * 1000)
    adds: list[dict] = []
    removes: list[dict] = []
    # row tracking (PROTOCOL.md Row Tracking): OPTIMIZE must PRESERVE
    # row identity across the rewrite — each output row lands with its
    # id/commit-version MATERIALIZED into the table's configured column
    # names (the id is the input file's materialized value when a prior
    # rewrite stamped one, else baseRowId + physical position)
    conf_rt = meta.get("configuration") or {}
    rt_mat_id = conf_rt.get("delta.rowTracking.materializedRowIdColumnName")
    rt_mat_cv = conf_rt.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    rowtrack = (
        "rowTracking" in (_proto.get("writerFeatures") or []) and rt_mat_id
    )
    if rowtrack:
        from pyspark.sql.types import LongType, StructField

        fschema = StructType(
            list(fschema.fields)
            + [StructField(c, LongType(), True)
               for c in (rt_mat_id, rt_mat_cv) if c]
        )
    for i, (key, files) in enumerate(bins):
        # DV-aware rewrite: compacting a deletion-vector file MATERIALIZES
        # its deletes (delta's own OPTIMIZE contract) — reading the raw
        # parquet would resurrect the vectored rows
        from pipeline_spark.sources.delta_native import read_files_with_dv

        out_dir = os.path.join(table, data_dir, f"bin-{i:05d}")
        bin_df = read_files_with_dv(
            spark, table, fschema, files, with_meta=rowtrack
        )
        if rowtrack:
            bin_df = _keep_row_ids(
                spark, table, bin_df, files, rt_mat_id, rt_mat_cv
            )
        adds += _write_files(
            table, out_dir, bin_df.coalesce(1), dict(key), now_ms,
            data_change=False,
        )
        for a in files:
            removes.append({
                "path": a["path"],
                "deletionTimestamp": now_ms,
                "dataChange": False,
                "partitionValues": a.get("partitionValues") or {},
            })

    _stamp_stats(spark, adds)
    actions: list[dict] = (
        [{"remove": r} for r in removes]
        + [{"add": a} for a in adds]
        + [{
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "OPTIMIZE",
                "operationParameters": {"targetFileBytes": str(target)},
            }
        }]
    )
    # layout-only rewrite: blind appends never conflict (delta-spark's
    # dataChange=false rule), concurrent rewrites of the same file do
    commit(
        table, snapshot, actions, reads="files",
        checkpoint_interval=p.get("checkpointInterval"),
    )
    return {"compacted_files": len(removes), "new_files": len(adds)}



def _keep_row_ids(spark, table: str, df, files: list[dict], rt_id, rt_cv):
    """Row tracking through a rewrite (PROTOCOL.md Row Tracking): each
    row of ``df`` (read with ``__dv_fp``/``__dv_ri``) keeps its identity
    MATERIALIZED in the table's configured columns — the value a prior
    rewrite stamped, else its file's baseRowId + position and
    defaultRowCommitVersion."""
    from pyspark.sql import functions as F

    from pipeline_spark.functions.localframe import local_frame

    rid = local_frame(
        spark,
        [
            (
                os.path.abspath(
                    os.path.join(table, urllib.parse.unquote(a["path"]))
                ),
                int(a.get("baseRowId") or 0),
                int(a.get("defaultRowCommitVersion") or 0),
            )
            for a in files
        ],
        "__rt_fp string, __rt_base long, __rt_dcv long",
    )
    df = df.join(
        F.broadcast(rid), df["__dv_fp"] == rid["__rt_fp"], "left"
    ).withColumn(
        rt_id, F.coalesce(F.col(rt_id), F.col("__rt_base") + F.col("__dv_ri"))
    )
    if rt_cv:
        df = df.withColumn(rt_cv, F.coalesce(F.col(rt_cv), F.col("__rt_dcv")))
    return df.drop("__dv_fp", "__dv_ri", "__rt_fp", "__rt_base", "__rt_dcv")


def _zorder_compact(
    spark, table: str, p: dict[str, Any], target: int, snapshot: tuple,
    cm: dict | None, part_cols: list[str],
) -> dict[str, int]:
    """OPTIMIZE ZORDER BY: rewrite EVERY live file (per partition) with
    rows clustered along the Morton curve of ``zOrderBy`` columns, so
    min/max file bounds become tight on ALL of them and multi-column
    dataFilter skipping prunes like a single-column sort would for one.
    Output file count per partition = ceil(bytes / targetFileBytes) via
    repartitionByRange on the z-value + an in-partition sort — fully
    distributed, the same dataChange-false remove+add commit as
    bin-packing compaction.  Deletion vectors are materialized by the
    rewrite (OPTIMIZE's contract)."""
    import math

    from pyspark.sql.types import StructType

    from pipeline_spark.functions.zorder import zvalue_column
    from pipeline_spark.sources.delta_native import read_files_with_dv

    prev_adds, meta = snapshot[:2]
    zorder = [str(c) for c in (p.get("zOrderBy") or [])]
    phys_z = [cm["phys_of"].get(c, c) for c in zorder] if cm else zorder
    full = (
        cm["phys_schema"]
        if cm
        else StructType.fromJson(json.loads(meta["schemaString"]))
    )
    fschema = StructType([f for f in full.fields if f.name not in part_cols])
    fnames = {f.name for f in fschema.fields}
    missing = [c for c, pc in zip(zorder, phys_z) if pc not in fnames]
    if missing:
        raise ValueError(
            f"delta compact: zOrderBy columns {missing} are not "
            "non-partition table columns"
        )

    groups: dict[tuple, list[dict]] = {}
    for a in prev_adds:
        key = tuple(sorted((a.get("partitionValues") or {}).items()))
        groups.setdefault(key, []).append(a)
    if not groups:
        return {"compacted_files": 0, "new_files": 0}

    commit_id = uuid.uuid4().hex
    data_dir = f"data-zorder-{commit_id}"
    now_ms = int(time.time() * 1000)
    adds: list[dict] = []
    removes: list[dict] = []
    for i, (key, files) in enumerate(sorted(groups.items())):
        df = read_files_with_dv(spark, table, fschema, files)
        df, z, tmp_cols = zvalue_column(spark, df, phys_z)
        nfiles = max(
            1,
            math.ceil(sum(int(a.get("size", 0)) for a in files) / target),
        )
        out_dir = os.path.join(table, data_dir, f"grp-{i:05d}")
        adds += _write_files(
            table, out_dir,
            df.withColumn("__z__", z)
            .repartitionByRange(nfiles, "__z__")
            .sortWithinPartitions("__z__")
            .drop("__z__", *tmp_cols),
            dict(key), now_ms, data_change=False,
        )
        for a in files:
            removes.append({
                "path": a["path"],
                "deletionTimestamp": now_ms,
                "dataChange": False,
                "partitionValues": a.get("partitionValues") or {},
            })

    _stamp_stats(spark, adds)
    actions: list[dict] = (
        [{"remove": r} for r in removes]
        + [{"add": a} for a in adds]
        + [{
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "OPTIMIZE",
                "operationParameters": {
                    "targetFileBytes": str(target),
                    "zOrderBy": json.dumps(zorder),
                },
            }
        }]
    )
    commit(
        table, snapshot, actions, reads="files",
        checkpoint_interval=p.get("checkpointInterval"),
    )
    return {"compacted_files": len(removes), "new_files": len(adds)}


def delete_delta_native(spark, p: dict[str, Any]) -> dict[str, int]:
    """Row-level DELETE WHERE, copy-on-write (the jar-free Delta shape):
    only files whose ``add.stats`` ADMIT a match are probed, only files
    holding a match rewrite (predicate-NULL rows are KEPT — they did not
    match), one remove+add commit with ``dataChange: true``.  At 100 TB a
    targeted takedown rewrites the handful of files holding its rows,
    not the table.  ``method: mor`` (or ``deletionVectors: true``)
    writes deletion vectors instead — zero data-file rewrite, the right
    shape when a takedown touches a few rows in many large files.
    ``where`` = the readers' dataFilter shape.  Planned by
    sinks/rowlevel.py; see :func:`_mutate_where`.
    """
    return _mutate_where(spark, p, None)


def _refuse_append_only(meta: dict, op: str) -> None:
    """PROTOCOL.md appendOnly: when ``delta.appendOnly=true`` writers
    must refuse any commit that removes data (overwrite, DELETE, UPDATE,
    RESTORE) — compaction is allowed (dataChange: false)."""
    conf = meta.get("configuration") or {}
    if str(conf.get("delta.appendOnly", "")).lower() == "true":
        raise ValueError(
            f"delta {op}: table sets delta.appendOnly=true — only appends "
            "are allowed (unset the property to mutate)"
        )


def _prev_ict(log_dir: str, version: int):
    """``inCommitTimestamp`` of commit ``version - 1``, or None.

    PROTOCOL.md In-Commit Timestamps: when the feature is active the
    commitInfo is the FIRST action of every commit and carries a
    monotonically increasing timestamp — so ICT-ness self-propagates by
    looking at the previous commit's first line (no config replay)."""
    if version <= 0:
        return None
    path = os.path.join(log_dir, f"{version - 1:020d}.json")
    try:
        with open(path) as fh:
            first = json.loads(fh.readline())
    except (OSError, ValueError):
        return None
    ci = first.get("commitInfo")
    return ci.get("inCommitTimestamp") if isinstance(ci, dict) else None


def _with_ict(actions: list[dict], ict_value: int) -> list[dict]:
    """Reorder/extend ``actions`` per the ICT contract: commitInfo FIRST,
    carrying ``inCommitTimestamp``."""
    cis = [a for a in actions if "commitInfo" in a]
    ci = dict(cis[0]["commitInfo"]) if cis else {
        "timestamp": ict_value, "operation": "WRITE",
    }
    ci["inCommitTimestamp"] = ict_value
    return [{"commitInfo": ci}] + [a for a in actions if "commitInfo" not in a]


#: how many lost races a commit rebases over before it gives up
_COMMIT_RETRIES = 20
#: the default ``checkpointInterval`` of every Delta commit
CHECKPOINT_INTERVAL = 10


def commit(
    table: str, snapshot: tuple | None, actions: list[dict], *,
    reads: str | list[dict], txn: tuple[str, int] | None = None,
    checkpoint_interval: int | None = CHECKPOINT_INTERVAL,
) -> tuple[int | None, int]:
    """Publish ``actions`` as the next version of ``table``: the one
    place a ``_delta_log`` version is written.

    ``snapshot`` is the ``(adds, metaData, protocol, version, ...)`` state
    the operation planned against; ``None`` creates the table at version
    0.  Per attempt, ``commit`` stamps what depends on the version it
    lands at: row-tracking ids for adds without a ``baseRowId`` plus the
    ``delta.rowTracking`` watermark (when the protocol lists
    rowTracking), the ``txn`` marker, and the In-Commit Timestamp chain
    (commitInfo first).  It spools the commit into the log directory
    and claims the version file create-exclusively (``os.link``, or an
    ``O_EXCL`` copy where hard links are missing), so a racing writer
    always loses loudly.  The loser reads the commits that beat it and
    rebases onto the next version unless one of them touched what the
    operation declares in ``reads`` (delta-spark's ConflictChecker):

    ``"append"``    a blind append: the schema, partitioning, CHECK
                    constraints or appendOnly changed;
    ``[...]``       a ``where`` domain (replaceWhere, DML, merge): any
                    metaData, a remove of a file this commit removes, or
                    a data-changing add whose partition values and stats
                    admit the predicate (``[]`` admits every add);
    ``"files"``     a layout rewrite (compaction, z-order): as a domain,
                    but adds never conflict;
    ``"metadata"``  alter: any metaData or protocol;
    ``"table"``     a create (write, clone, convert), a full overwrite or
                    a restore: anything.

    A protocol this engine cannot read conflicts with every operation.
    After the claim, a checkpoint every ``checkpoint_interval`` versions
    (None = the default) and the UniForm mirror sync.  Returns
    ``(version, retries)``; ``version`` is None when a commit that beat
    this one carries its ``txn`` (a replayed batch: nothing written).
    """
    log_dir = os.path.join(table, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    meta, proto, version = (
        (snapshot[1] or {}, snapshot[2] or {}, snapshot[3] + 1)
        if snapshot else ({}, {}, 0)
    )
    # the table config and protocol in force once this commit lands
    conf = next(
        (a["metaData"] for a in actions if "metaData" in a), meta
    ).get("configuration") or {}
    features = next(
        (a["protocol"] for a in actions if "protocol" in a), proto
    ).get("writerFeatures") or []
    ict = str(conf.get("delta.enableInCommitTimestamps", "")).lower() == "true"
    op = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
    who = "delta sink" if op.get("operation") == "WRITE" else "delta"
    if txn is not None:
        actions = actions + [
            {"txn": {"appId": str(txn[0]), "version": int(txn[1])}}
        ]
    spool = os.path.join(log_dir, f"commit.{uuid.uuid4().hex}.tmp")
    retries = 0
    try:
        while True:
            body = actions
            if "rowTracking" in features:
                body = _with_row_ids(table, body, version, snapshot is None)
            chain = _prev_ict(log_dir, version)
            if chain is None and ict:
                chain = -1  # enabled at create or mid-life: start the chain
            if chain is not None:
                body = _with_ict(
                    body, max(int(time.time() * 1000), int(chain) + 1)
                )
            with open(spool, "w") as fh:
                fh.writelines(json.dumps(a) + "\n" for a in body)
            target = os.path.join(log_dir, f"{version:020d}.json")
            try:
                # link(2) fails with EEXIST instead of replacing like
                # rename(2) would
                os.link(spool, target)
                break
            except FileExistsError:
                pass
            except OSError:
                # filesystem without hardlinks: O_EXCL create, then copy
                try:
                    with open(spool, "rb") as src, open(target, "xb") as dst:
                        dst.write(src.read())
                    break
                except FileExistsError:
                    pass
            if reads == "table" or retries == _COMMIT_RETRIES:
                raise FileExistsError(
                    f"{who}: concurrent commit raced on version {version} "
                    f"at {target} — retry the write"
                )
            won = []
            while os.path.exists(target):
                won.append((version, _read_commit(target)))
                version += 1
                target = os.path.join(log_dir, f"{version:020d}.json")
            if txn is not None and any(
                str(a["txn"].get("appId")) == str(txn[0])
                and int(a["txn"].get("version", -1)) >= int(txn[1])
                for _v, acts in won for a in acts if "txn" in a
            ):
                return None, retries
            _check_conflicts(won, reads, meta, actions, who)
            retries += 1
    finally:
        _remove_quiet(spool)
    interval = (
        CHECKPOINT_INTERVAL if checkpoint_interval is None
        else int(checkpoint_interval)
    )
    if interval > 0 and version > 0 and version % interval == 0:
        write_checkpoint(table, version)
    _maybe_uniform_sync(table, body, version)
    return version, retries


def _read_commit(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _with_row_ids(
    table: str, actions: list[dict], version: int, new_table: bool
) -> list[dict]:
    """Row tracking (PROTOCOL.md): every add on a row-tracking table
    declares ``baseRowId`` + ``defaultRowCommitVersion``.  Adds without
    one (fresh rows, rewrites whose ids are materialized, an upsert
    batch) take contiguous ranges past the ``delta.rowTracking`` high
    watermark, sized by their numRecords, and the commit advances the
    watermark.  Stamps copies, so a rebased commit restamps from the
    fresh watermark."""
    hwm = -1
    dm = None if new_table else replay_domains(table).get("delta.rowTracking")
    if dm:
        try:
            hwm = int(json.loads(dm.get("configuration") or "{}")
                      .get("rowIdHighWaterMark", -1))
        except (ValueError, TypeError):
            hwm = -1
    base = hwm + 1
    out: list[dict] = []
    stamped = False
    for a in actions:
        add = a.get("add")
        if add is None or add.get("baseRowId") is not None:
            out.append(a)
            continue
        stamped = True
        try:
            n = json.loads(add.get("stats") or "{}").get("numRecords")
        except (ValueError, TypeError):
            n = None
        if n is None:
            import pyarrow.parquet as pq

            n = pq.ParquetFile(
                os.path.join(table, urllib.parse.unquote(add["path"]))
            ).metadata.num_rows
        out.append({"add": {
            **add, "baseRowId": base, "defaultRowCommitVersion": version,
        }})
        base += int(n)
    if stamped:
        out.append({"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps({"rowIdHighWaterMark": base - 1}),
            "removed": False,
        }})
    return out


def _check_conflicts(
    won: list[tuple[int, list[dict]]], reads: str | list[dict], meta: dict,
    actions: list[dict], who: str,
) -> None:
    """Raise ``FileExistsError`` when a commit in ``won`` (version,
    actions) touched what ``reads`` declares (see :func:`commit`)."""
    from pipeline_spark.sources.delta_native import (
        _OK_READER_FEATURES,
        _column_mapping,
        _stats_may_match,
        stats_to_logical,
    )

    where = reads if isinstance(reads, list) else None
    cm = _column_mapping(meta) if where is not None else None
    part_set = set(meta.get("partitionColumns") or [])
    removes = {a["remove"].get("path") for a in actions if "remove" in a}
    what, inside = (
        ("replaceWhere", "inside the replaceWhere domain")
        if who == "delta sink"
        else ("operation", "matching this operation's read predicate")
    )
    for v, acts in won:
        for act in acts:
            if "metaData" in act and reads == "append":
                _check_append_meta(meta, act["metaData"])
            elif "metaData" in act or ("protocol" in act and reads == "metadata"):
                raise FileExistsError(
                    f"{who}: concurrent commit {v} changed the table "
                    "metadata mid-operation — re-plan against the new "
                    "snapshot"
                )
            elif "protocol" in act and set(
                act["protocol"].get("readerFeatures") or []
            ) - _OK_READER_FEATURES:
                # an upgrade this engine fully supports is benign (the
                # first DV write raising the table to deletionVectors)
                raise FileExistsError(
                    f"{who}: concurrent commit {v} upgraded the table "
                    "protocol past this writer's feature support — re-plan"
                )
            if "remove" in act and act["remove"].get("path") in removes:
                # retrying would resurrect the other writer's tombstone
                # or clobber its deletion vector
                raise FileExistsError(
                    f"{who}: concurrent commit {v} removed a file this "
                    f"{what} also rewrites — re-plan against the new "
                    "snapshot"
                )
            if where is not None and "add" in act and act["add"].get(
                "dataChange", True
            ):
                chk = dict(act["add"])
                stats_to_logical([chk], cm)
                if _stats_may_match(chk, where, None) and not _pv_disproves(
                    act["add"], where, part_set,
                    (cm or {}).get("phys_of") or {},
                ):
                    raise FileExistsError(
                        f"{who}: concurrent commit {v} added data {inside} "
                        "— re-plan against the new snapshot"
                    )


def _check_append_meta(old: dict, new: dict) -> None:
    """A blind append's rows were checked against ``old``'s schema,
    partitioning and constraints: an interleaved metaData that changed
    any of them fails the append."""
    if _schema_fingerprint(new["schemaString"]) != _schema_fingerprint(
        old["schemaString"]
    ):
        raise FileExistsError(
            "delta sink: concurrent commit changed the table schema "
            "mid-append — re-run the write against the new schema"
        )
    if (new.get("partitionColumns") or []) != (old.get("partitionColumns") or []):
        raise FileExistsError(
            "delta sink: concurrent commit changed the table partitioning "
            "mid-append — re-run the write"
        )

    def guards(m: dict) -> dict:
        return {
            k: v for k, v in (m.get("configuration") or {}).items()
            if k.startswith("delta.constraints.") or k == "delta.appendOnly"
        }

    if guards(new) != guards(old):
        raise FileExistsError(
            "delta sink: concurrent commit changed table constraints "
            "mid-append — rows were validated against the old ones; "
            "re-run the write"
        )


def _maybe_uniform_sync(
    table: str, actions: list[dict], version: int | None = None
) -> None:
    """UniForm (PROTOCOL.md universalFormat /
    ``delta.universalFormat.enabledFormats=iceberg``): after EVERY
    successful delta commit on an enabled table, regenerate the iceberg
    metadata over the same files so iceberg readers stay current on the
    single data copy.  Gate is cheap: the commit's own metaData action
    when present, else the iceberg side's ``delta.universalFormat``
    marker (one small JSON read — no delta log replay)."""
    # BEST-EFFORT by design: the delta commit has ALREADY landed when
    # the sync runs — an exception here would make a successful commit
    # look failed (and send the DML retry wrapper chasing a phantom
    # race).  A missed sync self-heals: every later sync regenerates
    # the mirror from CURRENT delta state (delta-spark's UniForm is
    # likewise async best-effort).
    try:
        _uniform_sync_inner(table, actions, version)
    except Exception as exc:  # noqa: BLE001 — never poison the commit
        import logging

        logging.getLogger("pipeline_spark.delta").warning(
            "uniform iceberg sync failed on %s (%s: %s) — the mirror is "
            "stale until the next commit's sync regenerates it",
            table, type(exc).__name__, exc,
        )


def _uniform_sync_inner(
    table: str, actions: list[dict], version: int | None = None
) -> None:
    md = next((a.get("metaData") for a in actions if "metaData" in a), None)
    enabled = None
    if md is not None:
        enabled = "iceberg" in str(
            (md.get("configuration") or {}).get(
                "delta.universalFormat.enabledFormats", ""
            )
        ).lower()
    if enabled is None:
        try:
            from pipeline_spark.sources.iceberg_native import (
                load_table_metadata,
            )

            enabled = (load_table_metadata(table).get("properties") or {}).get(
                "delta.universalFormat"
            ) == "true"
        except (FileNotFoundError, ValueError):
            enabled = False
    if enabled:
        from pipeline_spark.sinks.tableconvert import (
            sync_uniform_append,
            sync_uniform_iceberg,
        )

        # blind append (only dataChange adds, nothing removed/changed):
        # the INCREMENTAL path chains one O(batch) iceberg snapshot —
        # the steady-state ingest path never re-walks the table
        kinds = {k for a in actions for k in a}
        adds = [a["add"] for a in actions if "add" in a]
        if (
            kinds <= {"add", "txn", "commitInfo", "domainMetadata"}
            and adds
            and all(a.get("dataChange", True) for a in adds)
        ):
            try:
                if sync_uniform_append(table, adds, version):
                    return
            except FileExistsError:
                pass  # racing sync: fall through to the full regen
        sync_uniform_iceberg(table)


def _mutate_where(
    spark, p: dict[str, Any], set_exprs: dict[str, str] | None, *,
    state: tuple | None = None, staged_by: tuple[str, int] | None = None,
):
    """The Delta adapter of the row-level planner (sinks/rowlevel.py):
    the table state, a DV-aware live-row reader with partition literals,
    per-partition staging, change-data staging and the two commits.

    Copy-on-write (the default) rewrites only the files holding a match
    in one remove+add commit.  ``method: mor`` (or ``deletionVectors:
    true``) writes merge-on-read deletion vectors instead: each touched
    file's matched positions, unioned with its existing DV, serialize to
    a roaring-bitmap DV file (on the driver when the candidates' stats
    bound the positions under the driver cap, else executor-side, one
    applyInPandas group per file), and the commit re-adds the SAME data
    paths with ``deletionVector`` descriptors plus the deletionVectors
    protocol feature.  A DV DELETE moves zero data bytes; a DV UPDATE
    also appends the matched rows, updated, as new files (delta-spark's
    own DV-update shape).

    ``where`` and ``set`` are logical names; files, stats and
    partitionValues physical — translated at the boundaries.

    ``staged_by=(commit_id, now_ms)`` plans a copy-on-write DELETE over
    the snapshot ``state=(adds, meta, protocol, version)`` without
    committing it and returns ``(remove bodies, survivor adds)``: the
    delete side of a replaceWhere overwrite, which lands in the write's
    own commit.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from pipeline_spark.functions.localframe import local_frame
    from pipeline_spark.functions.sqltext import qi
    from pipeline_spark.sinks import rowlevel
    from pipeline_spark.sources.delta_native import (
        _column_mapping,
        _stats_may_match,
        partition_literal_sql,
        read_files_with_dv,
        stats_to_logical,
        to_logical_df,
        to_physical_df,
    )

    mor = bool(p.get("deletionVectors")) or str(p.get("method", "")).lower() in (
        "mor", "dv", "deletion-vectors",
    )
    op = "update" if set_exprs else "delete"
    table = p.get("path") or p.get("table")
    if not table:
        raise ValueError(f"delta {op}: 'path' is required")
    where = rowlevel.where_of("delta", op, p)
    if state is None:
        state = replay_state(table)[:4]
        _refuse_append_only(state[1], op)
    prev_adds, meta, proto, prev_version = state
    cm = _column_mapping(meta)
    log_of = {v: k for k, v in cm["phys_of"].items()} if cm else {}
    part_cols = list(meta.get("partitionColumns") or [])
    part_set = set(part_cols)
    phys_part = {cm["phys_of"].get(c, c) for c in part_cols} if cm else part_set
    full = StructType.fromJson(json.loads(meta["schemaString"]))
    read_fields = cm["phys_schema"].fields if cm else full.fields
    fschema = StructType([f for f in read_fields if f.name not in phys_part])
    log_fschema = [f for f in full.fields if f.name not in part_cols]
    types = {f.name: f.dataType for f in full.fields}
    # row tracking (PROTOCOL.md): a staged row (a rewrite, or a DV
    # update's re-appended row) PRESERVES its identity by materializing
    # it into the table's configured columns
    conf = meta.get("configuration") or {}
    rt_id = conf.get("delta.rowTracking.materializedRowIdColumnName")
    rt_cv = conf.get("delta.rowTracking.materializedRowCommitVersionColumnName")
    rowtrack = (
        "rowTracking" in ((proto or {}).get("writerFeatures") or [])
        and rt_id and rt_cv
    )
    cdf = _cdf_enabled(meta) and staged_by is None
    commit_id, now_ms = staged_by or (
        uuid.uuid4().hex, int(time.time() * 1000)
    )
    data_dir = f"data-{'rw' if staged_by else op}-{commit_id}"
    cdc_actions: list[dict] = []

    def path_of(a: dict) -> str:
        return os.path.abspath(
            os.path.join(table, urllib.parse.unquote(a["path"]))
        )

    def may_match(a: dict) -> bool:
        # partition values are exact (footer stats never carry them);
        # stats keys are physical, `where` is logical
        if _pv_disproves(a, where, part_set, cm["phys_of"] if cm else {}):
            return False
        if cm:
            a = dict(a)
            stats_to_logical([a], cm)
        return _stats_may_match(a, where, None)

    def groups(files: list[dict]) -> list[list[dict]]:
        by_pv: dict[tuple, list[dict]] = {}
        for a in files:
            key = tuple(sorted((a.get("partitionValues") or {}).items()))
            by_pv.setdefault(key, []).append(a)
        return list(by_pv.values())

    def read(files: list[dict], lineage: bool):
        lineage = bool(lineage and rowtrack)
        rt_cols = [rt_id, rt_cv] if lineage else []
        sch = StructType(
            list(fschema.fields)
            + [StructField(c, LongType(), True) for c in rt_cols]
        )
        parts = []
        for gfiles in groups(files):
            # DV-aware: rows a file's deletion vector already removed
            # neither match nor come back in a rewrite
            df = read_files_with_dv(spark, table, sch, gfiles, with_meta=True)
            df = to_logical_df(
                df, cm, log_fschema, keep=(*rt_cols, "__dv_fp", "__dv_ri")
            )
            cols = [qi(f.name) for f in log_fschema]
            if lineage:
                rid = local_frame(
                    spark,
                    [
                        (path_of(a), int(a.get("baseRowId") or 0),
                         int(a.get("defaultRowCommitVersion") or 0))
                        for a in gfiles
                    ],
                    "__rt_fp string, __rt_base long, __rt_dcv long",
                )
                df = df.join(
                    F.broadcast(rid), df["__dv_fp"] == rid["__rt_fp"], "left"
                )
                cols += [
                    f"coalesce({qi(rt_id)}, (__rt_base + __dv_ri)) AS {qi(rt_id)}",
                    f"coalesce({qi(rt_cv)}, __rt_dcv) AS {qi(rt_cv)}",
                ]
            pv = gfiles[0].get("partitionValues") or {}
            parts.append(df.selectExpr(
                *cols, "__dv_fp AS __fp__", "__dv_ri AS __pos__",
                *partition_literal_sql(pv.items(), types, log_of),
            ))
        out = parts[0]
        for x in parts[1:]:
            out = out.unionByName(x)
        return out

    def stage(i: int, files: list[dict], df) -> list[dict]:
        return _write_files(
            table, os.path.join(table, data_dir, f"grp-{i:05d}"),
            to_physical_df(df, cm),
            files[0].get("partitionValues") or {}, now_ms,
        )

    def changes(i: int, files: list[dict], pre, post) -> None:
        base = [qi(f.name) for f in log_fschema]
        if post is None:
            rows = pre.selectExpr(*base, "'delete' AS _change_type")
        else:
            rows = pre.selectExpr(
                *base, "'update_preimage' AS _change_type"
            ).unionByName(post.selectExpr(
                *base, "'update_postimage' AS _change_type"
            ))
        cdc_actions.extend(_stage_cdc(
            table, commit_id, i, to_physical_df(rows, cm),
            files[0].get("partitionValues") or {}, now_ms,
        ))

    def publish(actions: list[dict], params: dict) -> None:
        actions.extend(cdc_actions)
        actions.append({"commitInfo": {
            "timestamp": now_ms, "operation": op.upper(),
            "operationParameters": {"predicate": json.dumps(where), **params},
        }})
        commit(
            table, state, actions, reads=where,
            checkpoint_interval=p.get("checkpointInterval"),
        )

    def removed(a: dict) -> dict:
        return {"remove": {
            "path": a["path"], "deletionTimestamp": now_ms,
            "dataChange": True,
            "partitionValues": a.get("partitionValues") or {},
        }}

    def commit_rewrite(plan) -> dict:
        _stamp_stats(spark, plan.staged)
        publish(
            [removed(a) for a in plan.files]
            + [{"add": a} for a in plan.staged], {},
        )
        return {f"{op}d_rows": plan.rows, "rewritten_files": len(plan.files)}

    def commit_dvs(plan) -> dict:
        actions, n, n_dvs = _dv_actions(
            table, plan.files, plan.positions, proto or {}, cm, now_ms
        )
        if not n_dvs:
            # the stats over-admitted and nothing matched: drop the
            # staged update and change files, commit nothing
            for a in plan.staged:
                _remove_quiet(a["__full_path__"])
            for act in cdc_actions:
                _remove_quiet(os.path.join(
                    table, urllib.parse.unquote(act["cdc"]["path"])
                ))
            return None
        _stamp_stats(spark, plan.staged)
        actions += [{"add": a} for a in plan.staged]
        publish(actions, {"method": "merge-on-read"})
        result = {f"{op}d_rows": n, "dv_files": n_dvs}
        if set_exprs:
            result["new_files"] = len(plan.staged)
        return result

    def stage_rewrite(plan) -> tuple[list[dict], list[dict]]:
        # a fully-replaced file leaves a 0-row survivor rewrite — drop it
        # rather than commit an empty data file
        _stamp_stats(spark, plan.staged)
        adds = []
        for a in plan.staged:
            if json.loads(a.get("stats") or "{}").get("numRecords") == 0:
                _remove_quiet(path_of(a))
            else:
                adds.append(a)
        return [removed(a)["remove"] for a in plan.files], adds

    t = rowlevel.Table(
        fmt="delta", files=prev_adds, columns=[f.name for f in log_fschema],
        may_match=may_match, path_of=path_of, read=read, stage=stage,
        groups=groups, part_cols=part_cols, types=types,
        lineage=(rt_id, rt_cv, (prev_version or 0) + 1) if rowtrack else None,
        changes=changes if cdf else None,
    )
    if staged_by:
        return rowlevel.mutate(
            t, where, None, mor=False, commit=stage_rewrite,
        ) or ([], [])
    out = rowlevel.mutate(
        t, where, set_exprs, mor=mor,
        commit=commit_dvs if mor else commit_rewrite,
    )
    if out is None:
        return {f"{op}d_rows": 0, "dv_files" if mor else "rewritten_files": 0}
    return out


def _write_files(
    table: str, out_dir: str, df, pv: dict, now_ms: int,
    data_change: bool = True,
) -> list[dict]:
    """Write ``df`` as parquet under ``out_dir``: its add action bodies."""
    df.write.parquet(out_dir)
    return _staged_adds(table, out_dir, now_ms, pv, data_change)


def _staged_adds(
    table: str, out_dir: str, now_ms: int, pv: dict | None = None,
    data_change: bool = True,
) -> list[dict]:
    """One add action body per parquet file under ``out_dir``, carrying
    ``__full_path__`` for the stats pass (_stamp_stats).  Partition
    values are ``pv`` plus the hive ``col=value`` directories a
    partitioned write leaves."""
    adds = []
    for root, _dirs, names in os.walk(out_dir):
        file_pv = dict(pv or {})
        for seg in os.path.relpath(root, out_dir).split(os.sep):
            if "=" in seg:
                k, v = seg.split("=", 1)
                file_pv[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(v)
                )
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            fullp = os.path.join(root, name)
            rel = os.path.relpath(fullp, table)
            adds.append({
                # PROTOCOL.md: add.path is the URL-encoded relative path —
                # '%' in an on-disk (hive-escaped) segment must itself
                # escape so the reader's unquote restores the real name
                "path": urllib.parse.quote(rel.replace(os.sep, "/"), safe="/="),
                "partitionValues": file_pv,
                "size": os.path.getsize(fullp),
                "modificationTime": now_ms,
                "dataChange": data_change,
                "__full_path__": fullp,
            })
    return adds


def _stamp_stats(spark, adds: list[dict]) -> None:
    """Footer stats onto staged adds (popping their ``__full_path__``)."""
    stats_map = _collect_file_stats(spark, [a["__full_path__"] for a in adds])
    for a in adds:
        st = stats_map.get(a.pop("__full_path__"))
        if st:
            a["stats"] = st


def _remove_quiet(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _dv_actions(
    table: str, files: list[dict], positions, proto: dict, cm, now_ms: int,
) -> tuple[list[dict], int, int]:
    """Deletion vectors for the matched ``positions`` (``__fp__``,
    ``__pos__``) of ``files``: one DV per touched file, merged with its
    prior DV, and the actions that publish them — the deletionVectors
    table feature when the protocol lacks it, then per file a remove and
    a re-add carrying the new descriptor.  Returns (actions, rows newly
    deleted, DV files).

    Strategy gate (guide §3/§5): the stats already bound the matched-row
    count (sum of candidate numRecords).  Small mutations collect the
    positions and build DVs on the driver — no groupBy shuffle, no
    Python-worker stage; large or unknown keep the distributed build
    (positions never materialize on the driver)."""
    from pipeline_spark.functions.dvframe import _driver_max

    tbl_abs = os.path.abspath(table)
    by_path = {
        os.path.abspath(os.path.join(table, urllib.parse.unquote(a["path"]))):
            a
        for a in files
    }
    old_dvs = {
        fp: json.dumps(a["deletionVector"])
        for fp, a in by_path.items() if a.get("deletionVector")
    }

    def merge_write(fp, new_positions):
        # runs identically on the driver or inside an applyInPandas
        # group: merge with the file's prior DV, write the blob, return
        # the descriptor json
        import json as _j
        import os as _os

        from pipeline_spark.functions.deltadv import (
            load_dv_positions,
            make_dv_descriptor_relative,
        )

        positions = set(int(x) for x in new_positions)
        n_new = len(positions)
        prior = old_dvs.get(fp)
        if prior:
            positions |= {int(x) for x in load_dv_positions(tbl_abs, _j.loads(prior))}
        desc, target, blob = make_dv_descriptor_relative(
            tbl_abs, sorted(positions)
        )
        _os.makedirs(_os.path.dirname(target) or tbl_abs, exist_ok=True)
        tmp = target + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        _os.rename(tmp, target)
        return _j.dumps(desc), n_new

    def build_dv(pdf):
        import pandas as _pd

        fp = pdf["fp"].iloc[0]
        desc, n_new = merge_write(fp, pdf["ri"])
        return _pd.DataFrame({"fp": [fp], "desc": [desc], "n_new": [n_new]})

    matches = positions.selectExpr("__fp__ AS fp", "__pos__ AS ri")
    bound: int | None = 0
    for a in files:
        try:
            bound += int(json.loads(a.get("stats") or "null")["numRecords"])
        except (TypeError, KeyError, ValueError):
            bound = None
            break
    if bound is not None and bound <= _driver_max():
        by_fp: dict[str, list[int]] = {}
        for r in matches.collect():
            by_fp.setdefault(r["fp"], []).append(int(r["ri"]))
        built = []
        for fp, ris in by_fp.items():
            desc, n_new = merge_write(fp, ris)
            built.append({"fp": fp, "desc": desc, "n_new": n_new})
    else:
        built = matches.groupBy("fp").applyInPandas(
            build_dv, schema="fp string, desc string, n_new long"
        ).collect()  # one row PER TOUCHED FILE — metadata scale
    if not built:
        return [], 0, 0
    actions = []
    # DV tables need the reader/writer table feature; a column-mapped
    # table upgrading to features-protocol must also LIST columnMapping
    # or feature-aware readers would refuse it
    need = {"deletionVectors"} | ({"columnMapping"} if cm else set())
    rfeats = set(proto.get("readerFeatures") or [])
    if not need <= rfeats:
        rfeats |= need
        actions.append({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(rfeats),
            "writerFeatures": sorted(
                set(proto.get("writerFeatures") or []) | rfeats
            ),
        }})
    n = 0
    for row in built:
        # __fp__ derives from _metadata.file_path, which URI-encodes
        # special chars (a space in a hive partition value) — fall back
        # to the unquoted form
        a = by_path.get(row["fp"]) or by_path[urllib.parse.unquote(row["fp"])]
        n += int(row["n_new"])
        new_add = {k: v for k, v in a.items() if k != "deletionVector"}
        new_add["deletionVector"] = json.loads(row["desc"])
        new_add["dataChange"] = True
        new_add["modificationTime"] = a.get("modificationTime", now_ms)
        actions += [
            {"remove": {
                "path": a["path"], "deletionTimestamp": now_ms,
                "dataChange": True,
                "partitionValues": a.get("partitionValues") or {},
            }},
            {"add": new_add},
        ]
    return actions, n, len(built)


def update_delta_native(spark, p: dict[str, Any]) -> dict[str, int]:
    """Row-level UPDATE WHERE SET, copy-on-write; same stats-guided
    candidate selection as DELETE.  ``set`` maps column name → Spark SQL
    expression (evaluated against the pre-update row); non-matching rows
    pass through byte-identical semantics."""
    from pipeline_spark.sinks import rowlevel

    return _mutate_where(spark, p, rowlevel.set_of("delta", p))


def _dv_merge(
    spark, p, table, keys, touched, upserts, candidates, snapshot, cm,
    phys_part_cols, fschema, log_fschema, txn=None, read_where=None,
    cdf=False,
) -> dict[str, int]:
    """The merge-on-read half of MERGE: matched keys tombstone into
    roaring-bitmap deletion vectors (:func:`_dv_actions`), the re-added
    paths carry the descriptors, and the upsert batch appends — all in
    ONE commit.  The
    delete side moves ZERO data bytes: a million-key CDC batch writes
    KB-scale bitmaps plus its own rows."""
    from pyspark.sql import functions as F

    from pipeline_spark.sources.delta_native import (
        read_files_with_dv,
        to_logical_df,
        to_physical_df,
    )

    commit_id = uuid.uuid4().hex
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    deleted = n_dvs = 0
    cdc_actions: list[dict] = []
    base_cols = [f.name for f in log_fschema]
    if candidates:
        probe = read_files_with_dv(
            spark, table, fschema, candidates, with_meta=True
        )
        probe = to_logical_df(
            probe, cm, log_fschema, keep=("__dv_fp", "__dv_ri")
        )
        matched = probe.join(touched, on=list(keys), how="left_semi")
        if cdf:
            # unpartitioned CDF table (r8): the tombstoned rows surface
            # as delete change rows, the upsert batch as inserts — same
            # delete+insert pairing the COW merge stages
            pre = matched.select(*base_cols).withColumn(
                "_change_type", F.lit("delete")
            )
            post = upserts.select(*base_cols).withColumn(
                "_change_type", F.lit("insert")
            )
            cdc_actions = _stage_cdc(
                table, commit_id, 0,
                to_physical_df(pre.unionByName(post), cm), {}, now_ms,
            )
        actions, deleted, n_dvs = _dv_actions(
            table, candidates,
            matched.selectExpr("__dv_fp AS __fp__", "__dv_ri AS __pos__"),
            snapshot[2] or {}, cm, now_ms,
        )
    elif cdf:
        cdc_actions = _stage_cdc(
            table, commit_id, 0,
            to_physical_df(
                upserts.select(*base_cols).withColumn(
                    "_change_type", F.lit("insert")
                ), cm,
            ), {}, now_ms,
        )

    # upsert batch: normal partitioned data files
    up_dir = os.path.join(table, f"data-merge-{commit_id}", "upserts")
    w = to_physical_df(upserts, cm).write
    if phys_part_cols:
        w = w.partitionBy(*phys_part_cols)
    w.parquet(up_dir)
    adds = _staged_adds(table, up_dir, now_ms)
    _stamp_stats(spark, adds)
    actions.extend({"add": a} for a in adds)
    actions.extend(cdc_actions)
    actions.append({"commitInfo": {
        "timestamp": now_ms,
        "operation": "MERGE",
        "operationParameters": {
            "predicate": json.dumps(list(keys)),
            "method": "merge-on-read",
        },
    }})
    version, _retries = commit(
        table, snapshot, actions, reads=read_where, txn=txn,
        checkpoint_interval=p.get("checkpointInterval"),
    )
    if version is None:
        return {"merged_rows": 0, "dv_files": 0, "upsert_files": 0,
                "replayed": True}
    return {"merged_rows": deleted, "dv_files": n_dvs,
            "upsert_files": len(adds)}


def merge_delta_native(
    spark, df, p: dict[str, Any], txn: tuple | None = None
) -> dict[str, int]:
    """Copy-on-write MERGE (UnifiedMutation semantics — the Delta twin of
    the iceberg sink's ``mode: merge``, but FILE-SCOPED): keyed by
    ``primaryKeys``, rows with ``__op__ = DELETE`` remove their keys,
    everything else upserts whole rows.  Unlike the Iceberg COW merge
    (which rewrites the table), only files whose ``add.stats`` key
    bounds admit an incoming key — and whose data actually contains a
    match — rewrite; at 100 TB a million-row CDC batch touches the few
    files its keys live in, not the table.  One atomic commit: removes
    for matched files, adds for survivor rewrites, adds for the upsert
    batch.  DV-carrying files re-read with vectors applied.  CDF
    tables get change rows — replaced keys surface as delete+insert
    (whole-row upserts carry no matched/not-matched distinction, so no
    update_preimage pair; a state-reconstructing consumer sees
    identical results).  Reference: UnifiedMutation §2.10; the iceberg
    twin is sinks/iceberg_native.py mode=merge.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from pipeline_spark.sources.delta_native import (
        _column_mapping,
        _stats_may_match,
        read_files_with_dv,
        stats_to_logical,
        to_logical_df,
        to_physical_df,
    )

    table = p.get("path") or p.get("table")
    if not table:
        raise ValueError("delta merge: 'path' is required")
    keys = list(p.get("primaryKeys") or p.get("keyFields") or [])
    if not keys:
        raise ValueError("delta merge needs primaryKeys")
    op_field = p.get("mutationOpField", "__op__")
    if op_field in df.columns:
        upserts = df.filter(
            F.upper(F.coalesce(F.col(op_field), F.lit("UPSERT"))) != "DELETE"
        ).drop(op_field)
    else:
        upserts = df
    touched = df.select(*keys).distinct()

    log_dir = os.path.join(table, "_delta_log")
    if not (os.path.isdir(log_dir) and latest_version(log_dir) is not None):
        # no table yet: merge degenerates to create (the iceberg rule)
        write_delta_native(spark, upserts, {**p, "mode": "create"}, txn=txn)
        return {"merged_rows": -1, "rewritten_files": 0}

    snapshot = replay_state(table)
    prev_adds, meta, _proto, _v, _txns = snapshot
    if txn is not None and int(txn[1]) <= _txns.get(str(txn[0]), -1):
        # replayed streaming micro-batch: this merge already committed
        return {"merged_rows": 0, "rewritten_files": 0, "replayed": True}
    _refuse_append_only(meta, "merge")
    if _schema_fingerprint(meta["schemaString"]) != _schema_fingerprint(
        upserts.schema.json()
    ):
        raise ValueError(
            "delta merge: upsert schema must match the table schema"
        )
    cm = _column_mapping(meta)
    log_of = {v: k for k, v in cm["phys_of"].items()} if cm else {}
    part_cols = list(meta.get("partitionColumns") or [])
    phys_part_cols = (
        [cm["phys_of"].get(c, c) for c in part_cols] if cm else part_cols
    )
    full = StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in full.fields]
    bad = [k for k in keys if k not in names]
    if bad:
        raise ValueError(f"delta merge: primaryKeys {bad} not in the schema")
    read_fields = cm["phys_schema"].fields if cm else full.fields
    fschema = StructType(
        [f for f in read_fields if f.name not in phys_part_cols]
    )
    # row tracking: survivors of touched files keep their identity
    # MATERIALIZED through the rewrite (the upsert batch takes fresh
    # ids from the commit backstop — merge = delete+insert identity)
    conf_rt = meta.get("configuration") or {}
    rt_mat_id = conf_rt.get("delta.rowTracking.materializedRowIdColumnName")
    rt_mat_cv = conf_rt.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    rowtrack = (
        "rowTracking" in (_proto.get("writerFeatures") or [])
        and rt_mat_id and rt_mat_cv
    )
    if rowtrack:
        from pyspark.sql.types import LongType, StructField

        fschema = StructType(
            list(fschema.fields)
            + [StructField(c, LongType(), True)
               for c in (rt_mat_id, rt_mat_cv)]
        )
    log_fschema = [f for f in full.fields if f.name not in part_cols]
    base_cols = [f.name for f in log_fschema]
    types = {f.name: f.dataType for f in full.fields}
    cdf = _cdf_enabled(meta)

    # key-RANGE pruning off add.stats (sound: a file wholly outside the
    # incoming batch's [min,max] on ANY key column cannot match; one
    # tiny driver row).  Non-orderable-literal keys skip the prune.
    brow = touched.agg(
        *[F.min(k).alias(f"mn{i}") for i, k in enumerate(keys)],
        *[F.max(k).alias(f"mx{i}") for i, k in enumerate(keys)],
    ).collect()[0]
    where = []
    for i, k in enumerate(keys):
        mn, mx = brow[f"mn{i}"], brow[f"mx{i}"]
        if isinstance(mn, (int, float, str)) and not isinstance(mn, bool):
            where.append({"key": k, "op": ">=", "value": mn})
            where.append({"key": k, "op": "<=", "value": mx})
    if cm:
        check_adds = [dict(a) for a in prev_adds]
        stats_to_logical(check_adds, cm)
    else:
        check_adds = prev_adds
    candidates = [
        a for a, ca in zip(prev_adds, check_adds)
        if not where or _stats_may_match(ca, where, None)
    ]
    mor = bool(p.get("deletionVectors")) or str(
        p.get("method", "")
    ).lower() in ("mor", "dv", "deletion-vectors")
    if mor:
        # merge-on-read merge: matched keys tombstone via deletion
        # vectors (ZERO data bytes move on the delete side), upserts
        # append — one commit.  delta-spark's low-shuffle-merge shape.
        if any(k in part_cols for k in keys):
            raise NotImplementedError(
                "delta merge method=mor: partition-column keys need the "
                "copy-on-write path (drop method: mor)"
            )
        if cdf and part_cols:
            raise NotImplementedError(
                "delta merge method=mor on a PARTITIONED CDF table: "
                "change rows would need per-partition staging — use the "
                "default copy-on-write merge (it stages delete+insert "
                "cdc rows per partition group)"
            )
        return _dv_merge(
            spark, p, table, keys, touched, upserts, candidates, snapshot,
            cm, phys_part_cols, fschema, log_fschema, txn=txn,
            read_where=where, cdf=cdf,
        )

    # exact touched-file probe (delta-spark's findTouchedFiles): one
    # column-pruned scan of the candidates' key columns, semi-joined to
    # the incoming keys — only files that actually CONTAIN a match
    # rewrite.  Keys that are partition columns fall back to the
    # bounds+group granularity (they're not in the data files).
    if candidates and all(k not in part_cols for k in keys):
        probe = read_files_with_dv(
            spark, table, fschema, candidates, with_meta=True
        )
        probe = to_logical_df(probe, cm, log_fschema, keep=("__dv_fp",))
        hit = {
            r["__dv_fp"]
            for r in probe.join(touched, on=list(keys), how="left_semi")
            .select("__dv_fp").distinct().collect()
        }
        candidates = [
            a for a in candidates
            if os.path.abspath(
                os.path.join(table, urllib.parse.unquote(a["path"]))
            ) in hit
        ]

    groups: dict[tuple, list[dict]] = {}
    for a in candidates:
        key = tuple(sorted((a.get("partitionValues") or {}).items()))
        groups.setdefault(key, []).append(a)

    commit_id = uuid.uuid4().hex
    data_dir = f"data-merge-{commit_id}"
    now_ms = int(time.time() * 1000)
    adds: list[dict] = []
    removes: list[dict] = []
    cdc_actions: list[dict] = []
    replaced = 0
    for i, (key, files) in enumerate(sorted(groups.items())):
        grp = read_files_with_dv(
            spark, table, fschema, files, with_meta=bool(rowtrack)
        )
        rt_keep = (
            (rt_mat_id, rt_mat_cv, "__dv_fp", "__dv_ri") if rowtrack else ()
        )
        grp = to_logical_df(grp, cm, log_fschema, keep=rt_keep)
        if rowtrack:
            grp = _keep_row_ids(spark, table, grp, files, rt_mat_id, rt_mat_cv)
        pv = dict(key)
        for c, v in pv.items():
            lc = log_of.get(c, c)
            grp = grp.withColumn(
                lc,
                F.lit(v).cast(types[lc]) if v is not None
                else F.lit(None).cast(types[lc]),
            )
        n_match = grp.join(touched, on=list(keys), how="left_semi").count()
        if n_match == 0:
            continue  # bounds admitted a match the data doesn't contain
        replaced += n_match
        if cdf:
            pre = (
                grp.join(touched, on=list(keys), how="left_semi")
                .select(*base_cols)
                .withColumn("_change_type", F.lit("delete"))
            )
            cdc_actions.extend(_stage_cdc(
                table, commit_id, i, to_physical_df(pre, cm), pv, now_ms,
            ))
        out = grp.join(touched, on=list(keys), how="left_anti")
        out_cols = base_cols + (
            [rt_mat_id, rt_mat_cv] if rowtrack else []
        )
        adds += _write_files(
            table, os.path.join(table, data_dir, f"grp-{i:05d}"),
            to_physical_df(out.select(*out_cols), cm), pv, now_ms,
        )
        for a in files:
            removes.append({
                "path": a["path"],
                "deletionTimestamp": now_ms,
                "dataChange": True,
                "partitionValues": a.get("partitionValues") or {},
            })

    # the upsert batch lands as normal partitioned data files
    up_dir = os.path.join(table, data_dir, "upserts")
    w = to_physical_df(upserts, cm).write
    if phys_part_cols:
        w = w.partitionBy(*phys_part_cols)
    w.parquet(up_dir)
    upsert_adds = _staged_adds(table, up_dir, now_ms)
    adds += upsert_adds
    if cdf:
        # explicit insert rows: a commit carrying ANY cdc actions is
        # read from cdc alone, so the upserts must be in it too
        if part_cols:
            pvs = [
                {c: r[c] for c in part_cols}
                for r in upserts.select(*part_cols).distinct().collect()
            ]
        else:
            pvs = [{}]
        for j, pv in enumerate(pvs):
            sel = upserts
            for c, v in pv.items():
                sel = sel.filter(
                    F.col(c).isNull() if v is None else (F.col(c) == v)
                )
            changes = sel.select(*base_cols).withColumn(
                "_change_type", F.lit("insert"))
            cdc_actions.extend(_stage_cdc(
                table, commit_id, 10_000 + j, to_physical_df(changes, cm),
                {cm["phys_of"].get(c, c) if cm else c: (
                    None if v is None else str(v)) for c, v in pv.items()},
                now_ms,
            ))

    _stamp_stats(spark, adds)
    actions = (
        [{"remove": r} for r in removes]
        + [{"add": a} for a in adds]
        + cdc_actions
        + [{"commitInfo": {
            "timestamp": now_ms,
            "operation": "MERGE",
            "operationParameters": {"predicate": json.dumps(keys)},
        }}]
    )
    version, _retries = commit(
        table, snapshot, actions, reads=where, txn=txn,
        checkpoint_interval=p.get("checkpointInterval"),
    )
    if version is None:
        return {"merged_rows": 0, "rewritten_files": 0,
                "upsert_files": 0, "replayed": True}
    return {"merged_rows": replaced, "rewritten_files": len(removes),
            "upsert_files": len(upsert_adds)}


def clone_delta_native(spark, p: dict[str, Any]) -> dict[str, Any]:
    """SHALLOW CLONE (delta-spark's CREATE TABLE ... SHALLOW CLONE): a
    new table whose v0 commit re-adds the SOURCE's live files by
    absolute path — zero data bytes copy, so a 100 TB table clones in
    metadata time.  The clone gets a fresh table id but the source's
    schema / partitioning / configuration (DV descriptors ride along —
    merge-on-read state is table state); ``versionAsOf`` /
    ``timestampAsOf`` clone a historical version.  Writes to the clone
    stage under the CLONE's directory, and VACUUM walks only the
    clone's own files, so the source can never be damaged through the
    clone (the other edge — the SOURCE vacuuming files the clone still
    references — is shallow-clone's documented contract in delta-spark
    too: deep-copy via an overwrite write when the source's lifecycle
    is not yours).
    """
    source = p.get("source") or p.get("from")
    target = p.get("path") or p.get("table")
    if not source or not target:
        raise ValueError("delta clone: 'source' and 'path' are required")
    version = p.get("versionAsOf")
    if p.get("timestampAsOf") is not None:
        from pipeline_spark.sources.delta_native import _version_at_timestamp

        version = _version_at_timestamp(
            _log_dir(source), p["timestampAsOf"])
    adds, meta, proto, src_version = replay_log(
        source, int(version) if version is not None else None)
    log_dir = os.path.join(target, "_delta_log")
    if os.path.isdir(log_dir) and latest_version(log_dir) is not None:
        raise FileExistsError(f"delta clone: table already exists at {target}")
    src_abs = os.path.abspath(source)
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {"protocol": dict(proto)},
        {"metaData": {
            **meta,
            "id": str(uuid.uuid4()),
            "createdTime": now_ms,
        }},
    ]
    from pipeline_spark.functions.deltadv import dv_absolute_path

    for a in adds:
        c = dict(a)
        rel = urllib.parse.unquote(a["path"])
        if not rel.startswith("/"):
            # absolute-path add (PROTOCOL.md: paths may be absolute) —
            # the clone references the source's file in place
            c["path"] = urllib.parse.quote(
                os.path.join(src_abs, rel), safe="/=")
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            # 'u' descriptors resolve relative to the TABLE root — the
            # clone's root has no .bin files, so pin them absolute ('p')
            # at the source's
            c["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": dv_absolute_path(src_abs, dv),
                "offset": dv.get("offset", 1),
            }
        c["modificationTime"] = a.get("modificationTime", now_ms)
        c["dataChange"] = True
        actions.append({"add": c})
    actions.append({"commitInfo": {
        "timestamp": now_ms,
        "operation": "CLONE",
        "operationParameters": {
            "source": src_abs, "sourceVersion": src_version,
        },
    }})
    commit(
        target, None, actions, reads="table",
        checkpoint_interval=p.get("checkpointInterval"),
    )
    return {"cloned_files": len(adds), "source_version": src_version}


def restore_delta_native(spark, p: dict[str, Any]) -> dict[str, Any]:
    """RESTORE TABLE to an earlier version (delta's RESTORE): ONE new
    commit re-adds the target version's files (deletion vectors
    included, verbatim) and removes the files added since — data AND
    schema roll back, history is preserved (the restore itself is just
    another version, so it can be un-restored).  Files vacuumed since
    the target version make the restore impossible and error
    actionably.  ``versionAsOf`` or ``timestampAsOf`` picks the target.
    """
    import urllib.parse as _up

    from pipeline_spark.sources.delta_native import _version_at_timestamp

    table = p.get("path") or p.get("table")
    if not table:
        raise ValueError("delta restore: 'path' is required")
    version = p.get("versionAsOf")
    ts = p.get("timestampAsOf")
    if (version is None) == (ts is None):
        raise ValueError(
            "delta restore: exactly one of versionAsOf / timestampAsOf"
        )
    if ts is not None:
        version = _version_at_timestamp(_log_dir(table), ts)
    version = int(version)
    snapshot = replay_state(table)
    cur_adds, cur_meta, _proto, cur_version, _txns = snapshot
    _refuse_append_only(cur_meta, "restore")
    if version > cur_version:
        raise ValueError(
            f"delta restore: versionAsOf {version} is beyond the current "
            f"version {cur_version}"
        )
    if version == cur_version:
        return {"restored_version": version, "files_added": 0,
                "files_removed": 0}
    tgt_adds, tgt_meta, _tp, _tv = replay_log(table, version)
    cur_by = {a["path"]: a for a in cur_adds}
    tgt_by = {a["path"]: a for a in tgt_adds}
    missing = [
        rel for rel in tgt_by
        if not os.path.exists(os.path.join(table, _up.unquote(rel)))
    ]
    if missing:
        raise FileNotFoundError(
            f"delta restore: {len(missing)} data file(s) of version "
            f"{version} were vacuumed (e.g. {missing[0]}) — the table "
            "cannot be restored past its retention"
        )
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    if (
        tgt_meta.get("schemaString") != cur_meta.get("schemaString")
        or tgt_meta.get("partitionColumns") != cur_meta.get("partitionColumns")
        or tgt_meta.get("configuration") != cur_meta.get("configuration")
    ):
        actions.append({"metaData": tgt_meta})

    def _same(a: dict, b: dict) -> bool:
        return json.dumps(a.get("deletionVector"), sort_keys=True) == (
            json.dumps(b.get("deletionVector"), sort_keys=True)
        )

    removes = [rel for rel in cur_by if rel not in tgt_by]
    re_adds = [
        a for rel, a in tgt_by.items()
        if rel not in cur_by or not _same(a, cur_by[rel])
    ]
    for rel in removes:
        actions.append({"remove": {
            "path": rel, "deletionTimestamp": now_ms, "dataChange": True,
            "partitionValues": cur_by[rel].get("partitionValues") or {},
        }})
    actions.extend({"add": {**a, "dataChange": True}} for a in re_adds)
    actions.append({"commitInfo": {
        "timestamp": now_ms,
        "operation": "RESTORE",
        "operationParameters": {"version": str(version)},
    }})
    commit(
        table, snapshot, actions, reads="table",
        checkpoint_interval=p.get("checkpointInterval"),
    )
    return {
        "restored_version": version,
        "files_added": len(re_adds),
        "files_removed": len(removes),
    }


def alter_delta_native(spark, p: dict[str, Any]) -> dict[str, Any]:
    """Metadata-only ALTER TABLE: the operations column mapping exists
    for (PROTOCOL.md Column Mapping — rename/drop become one metaData
    commit with ZERO data motion, because files are keyed by physical
    name, not logical).

      enableColumnMapping: true   upgrade an unmapped table to
                                  mode=name: every existing field's
                                  physical name is its CURRENT name
                                  (the files already use it — the
                                  spec's upgrade invariant), ids
                                  assigned, protocol raised to
                                  reader2/writer5 (or the columnMapping
                                  table feature on feature protocols)
      renameColumn: {old: new}    logical rename(s), top-level
      dropColumn: [name, ...]     remove column(s) from the schema
                                  (bytes stay in the files, invisible
                                  to readers — delta's own DROP COLUMN)

    On an UNMAPPED table rename/drop would have to rewrite every data
    file — refused with the upgrade hint (pass enableColumnMapping in
    the same call to do both in one commit).
    """
    table = p.get("path") or p.get("table")
    if not table:
        raise ValueError("delta alter: 'path' is required")
    snapshot = replay_state(table)
    _adds, meta, proto, prev_version, _txns = snapshot
    conf = dict(meta.get("configuration") or {})
    sj = json.loads(meta["schemaString"])
    actions: list[dict] = []
    result: dict[str, Any] = {}

    if p.get("enableColumnMapping") and conf.get(
        "delta.columnMapping.mode"
    ) in (None, "", "none"):
        next_id = 0

        def _annotate(node):
            nonlocal next_id
            if not isinstance(node, dict):
                return node
            out = dict(node)
            t = node.get("type")
            if t == "struct":
                fields = []
                for f in node["fields"]:
                    next_id += 1
                    md = dict(f.get("metadata") or {})
                    md.setdefault("delta.columnMapping.id", next_id)
                    # upgrade invariant: physical name = CURRENT name
                    md.setdefault(
                        "delta.columnMapping.physicalName", f["name"]
                    )
                    fields.append(
                        {**f, "metadata": md, "type": _annotate(f["type"])}
                    )
                out["fields"] = fields
            elif t == "array":
                out["elementType"] = _annotate(node["elementType"])
            elif t == "map":
                out["keyType"] = _annotate(node["keyType"])
                out["valueType"] = _annotate(node["valueType"])
            return out

        sj = _annotate(sj)
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(next_id)
        r = int(proto.get("minReaderVersion", 1))
        w = int(proto.get("minWriterVersion", 2))
        if r >= 3 or proto.get("readerFeatures") is not None:
            rf = sorted(set(proto.get("readerFeatures") or []) | {"columnMapping"})
            wf = sorted(set(proto.get("writerFeatures") or []) | {"columnMapping"})
            actions.append({"protocol": {
                "minReaderVersion": max(r, 3), "minWriterVersion": max(w, 7),
                "readerFeatures": rf, "writerFeatures": wf,
            }})
        elif r < 2 or w < 5:
            actions.append({"protocol": {
                "minReaderVersion": 2, "minWriterVersion": 5,
            }})
        result["column_mapping_enabled"] = True

    renames = dict(p.get("renameColumn") or {})
    drops = list(p.get("dropColumn") or [])
    if (renames or drops) and conf.get("delta.columnMapping.mode") in (
        None, "", "none",
    ):
        raise ValueError(
            "delta alter: rename/drop are metadata-only ONLY under column "
            "mapping (files are keyed by physical name); pass "
            "enableColumnMapping: true (same call works) or rewrite the "
            "table"
        )
    names = {f["name"] for f in sj.get("fields", [])}
    bad = [c for c in list(renames) + drops if c not in names]
    if bad:
        raise ValueError(f"delta alter: unknown columns {bad} (have {sorted(names)})")
    clash = [new for new in renames.values() if new in names - set(renames)]
    if clash:
        raise ValueError(f"delta alter: rename targets {clash} already exist")
    part_cols = set(meta.get("partitionColumns") or [])
    locked = [c for c in list(renames) + drops if c in part_cols]
    if locked:
        raise ValueError(
            f"delta alter: {locked} are partition columns — renaming or "
            "dropping them changes the table layout; rewrite instead"
        )
    if renames or drops:
        sj["fields"] = [
            {**f, "name": renames.get(f["name"], f["name"])}
            for f in sj["fields"]
            if f["name"] not in drops
        ]
        if not sj["fields"]:
            raise ValueError("delta alter: cannot drop every column")
        result["renamed"] = renames
        result["dropped"] = drops
    widens = dict(p.get("widenColumn") or {})
    if widens:
        # type widening (PROTOCOL.md Type Widening): ALTER COLUMN TYPE
        # along a safe promotion lattice — metadata-only, existing
        # parquet stays byte-identical; readers upcast at scan time
        # (Spark's parquet readers promote int32→int64/double and
        # float→double natively, SPARK-40876).  Each change is recorded
        # in the field's ``delta.typeChanges`` metadata with the commit
        # version, the spec's audit trail for which files predate the
        # widening.  Feature-gated: typeWidening is a READER feature —
        # a reader that ignored it would mis-type the physical columns.
        _WIDEN_OK = {
            "byte": {"short", "integer", "long", "double"},
            "short": {"integer", "long", "double"},
            "integer": {"long", "double"},
            "float": {"double"},
        }
        by_name_tw = {f["name"]: f for f in sj.get("fields", [])}
        for col, to_t in widens.items():
            f = by_name_tw.get(col)
            if f is None:
                raise ValueError(
                    f"delta alter: widenColumn {col!r} not in schema"
                )
            from_t = f["type"]
            if not isinstance(from_t, str) or str(to_t) not in _WIDEN_OK.get(
                from_t, set()
            ):
                raise ValueError(
                    f"delta alter: {col}: {from_t} -> {to_t} is not a "
                    "safe widening (supported: byte/short/integer -> "
                    "wider integer or double, float -> double)"
                )
        new_fields_tw = []
        for f in sj["fields"]:
            if f["name"] in widens:
                md = dict(f.get("metadata") or {})
                changes = list(md.get("delta.typeChanges") or [])
                changes.append({
                    "fromType": f["type"],
                    "toType": str(widens[f["name"]]),
                    "tableVersion": prev_version + 1,
                })
                md["delta.typeChanges"] = changes
                new_fields_tw.append(
                    {**f, "type": str(widens[f["name"]]), "metadata": md}
                )
            else:
                new_fields_tw.append(f)
        sj["fields"] = new_fields_tw
        r = int(proto.get("minReaderVersion", 1))
        w = int(proto.get("minWriterVersion", 2))
        rf = set(proto.get("readerFeatures") or [])
        if "typeWidening" not in rf:
            actions.append({"protocol": {
                "minReaderVersion": max(r, 3),
                "minWriterVersion": max(w, 7),
                "readerFeatures": sorted(rf | {"typeWidening"}),
                "writerFeatures": sorted(
                    set(proto.get("writerFeatures") or []) | {"typeWidening"}
                ),
            }})
        result["widened"] = dict(widens)
    if p.get("clusterBy") is not None:
        # ALTER TABLE ... CLUSTER BY (delta-spark): one domainMetadata
        # commit flips the clustering columns — existing files keep
        # their layout, future writes and OPTIMIZE follow the new list;
        # [] removes clustering (the domain's removed tombstone)
        new_cluster = [str(c) for c in (p.get("clusterBy") or [])]
        bad = [
            c for c in new_cluster
            if c not in [f["name"] for f in sj["fields"]]
        ]
        if bad:
            raise ValueError(
                f"delta alter: clusterBy columns {bad} not in the schema"
            )
        wf = set(proto.get("writerFeatures") or [])
        if new_cluster and "domainMetadata" not in wf:
            actions.append({"protocol": {
                **proto,
                "minReaderVersion": int(proto.get("minReaderVersion", 1)),
                "minWriterVersion": 7,
                "writerFeatures": sorted(
                    wf | {"clustering", "domainMetadata"}
                ),
            }})
        actions.append({"domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps(
                {"clusteringColumns": [[c] for c in new_cluster]}
            ) if new_cluster else None,
            "removed": not new_cluster,
        }})
        result["cluster_by"] = new_cluster
    if not actions and not renames and not drops and not result:
        if p.get("enableColumnMapping"):
            # already mapped: idempotent no-op, not an error
            return {"column_mapping_enabled": False}
        raise ValueError(
            "delta alter: nothing to do (enableColumnMapping / "
            "renameColumn / dropColumn / widenColumn / clusterBy)"
        )
    actions.append({"metaData": {
        **meta, "schemaString": json.dumps(sj), "configuration": conf,
    }})
    actions.append({"commitInfo": {
        "timestamp": int(time.time() * 1000),
        "operation": "ALTER TABLE",
        "operationParameters": {
            "renameColumn": json.dumps(renames),
            "dropColumn": json.dumps(drops),
            "enableColumnMapping": bool(result.get("column_mapping_enabled")),
        },
    }})
    # metadata-only: it rebases over data commits.  A widening records
    # the version it lands at, so it declares the whole table instead.
    commit(
        table, snapshot, actions, reads="table" if widens else "metadata",
        checkpoint_interval=p.get("checkpointInterval"),
    )
    return result


def _cdf_enabled(meta: dict) -> bool:
    return str(
        (meta.get("configuration") or {}).get("delta.enableChangeDataFeed", "")
    ).lower() == "true"


def _stage_cdc(
    table: str, commit_id: str, idx: int, changes_df, pv: dict, now_ms: int
) -> list[dict]:
    """Write one partition group's change rows (non-partition columns +
    ``_change_type``) under ``_change_data/`` and return the commit's
    ``cdc`` actions (PROTOCOL.md: Add CDC File) — ``dataChange: false``
    so log consumers don't double-count the rows as table data."""
    out_dir = os.path.join(
        table, "_change_data", f"{commit_id}-grp-{idx:05d}"
    )
    return [
        {"cdc": {
            "path": a["path"], "partitionValues": a["partitionValues"],
            "size": a["size"], "dataChange": False,
        }}
        for a in _write_files(table, out_dir, changes_df, pv, now_ms)
    ]


def vacuum_delta_native(spark, p: dict[str, Any]) -> dict[str, int]:
    """VACUUM: delete data files no RETAINED version references.

    Compaction (and overwrites) leave tombstoned files on disk — the log
    says "removed" but the bytes stay, and at crawl scale they dominate
    storage within days.  This walks the table's data files, keeps every
    file referenced by the adds of the last ``retainVersions`` versions
    (default 1 = current only; raise it to keep time travel that deep),
    and deletes the rest.  ``dryRun: true`` reports without deleting.

    Non-data paths (_delta_log, _change_data CDC files, deletion-vector
    .bin sidecars, non-parquet) are never touched.  Unreferenced files
    younger than ``retainSeconds`` (default 0 when the log shows a
    single writer pattern is yours; set it — delta's own default is
    7 days — when concurrent writers may be mid-stage: a writer that
    has staged parquet but not yet linked its commit must not lose its
    files).  Time travel to versions older than the retention horizon
    will fail with missing files afterwards — that is the operation's
    contract.
    """
    table = p.get("path") or p.get("table")
    if not table:
        raise ValueError("delta vacuum: 'path' is required")
    retain = max(1, int(p.get("retainVersions", 1)))
    retain_secs = float(p.get("retainSeconds", 0))
    dry = bool(p.get("dryRun", False))
    current = latest_version(_log_dir(table))
    if current is None:
        raise FileNotFoundError(f"delta vacuum: no table at {table}")

    referenced: set[str] = set()
    for v in range(max(0, current - retain + 1), current + 1):
        adds, _m, _p2, _v, _t = replay_state(table, v)
        for a in adds:
            referenced.add(
                os.path.normpath(
                    os.path.join(table, urllib.parse.unquote(a["path"]))
                )
            )

    removed = 0
    kept = 0
    now = time.time()
    for root, dirs, files in os.walk(table):
        if "_delta_log" in dirs:
            dirs.remove("_delta_log")
        if "_change_data" in dirs:
            # CDC files are referenced by cdc actions, not adds — the
            # change feed over retained versions still needs them
            dirs.remove("_change_data")
        for name in files:
            if not name.endswith(".parquet"):
                continue
            full = os.path.normpath(os.path.join(root, name))
            if full in referenced:
                kept += 1
                continue
            if retain_secs > 0:
                try:
                    if now - os.path.getmtime(full) < retain_secs:
                        kept += 1  # possibly an in-flight writer's staging
                        continue
                except OSError:
                    continue
            removed += 1
            if not dry:
                os.remove(full)
    if not dry:
        # prune now-empty data directories
        for root, _dirs, _files in os.walk(table, topdown=False):
            if root != str(table) and not os.listdir(root):
                try:
                    os.rmdir(root)
                except OSError:
                    pass
    return {"removed_files": removed, "kept_files": kept}


def write_checkpoint(table: str, version: int) -> None:
    """Checkpoint at ``version`` + _last_checkpoint hint.

    Classic single-part parquet by default; when the table's
    ``delta.checkpointPolicy`` property is ``v2`` (PROTOCOL.md "V2
    Checkpoint Table Feature", set at create time so the protocol
    carries the ``v2Checkpoint`` feature), the checkpoint is a
    UUID-named top file whose ``sidecar`` actions delegate the add
    state to parquet files under ``_delta_log/_sidecars/``.  That is
    the 100 TB log shape: the top file stays KB-sized no matter how
    many live files the table has, and sidecars shard the add actions
    (``delta.checkpoint.sidecarActionCount``, default 100k/file) so no
    single checkpoint artifact scales with table size.

    ``partitionValues``/``configuration`` are map<string,string> — the
    type delta-spark's checkpoints use (an inferred empty struct would
    not even serialize)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    adds, meta, proto, _v, txns = replay_state(table, version)
    str_map = pa.map_(pa.string(), pa.string())
    schema = pa.schema([
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", str_map),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            # delta-spark checkpoints carry stats as a JSON string column;
            # dropping it here would silently disable file skipping and
            # stats-guided DELETE/UPDATE for every pre-checkpoint file
            ("stats", pa.string()),
            # DV descriptors are TABLE STATE: a checkpoint that drops
            # them would resurrect every mor-deleted row on replay
            ("deletionVector", pa.struct([
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("offset", pa.int32()),
                ("sizeInBytes", pa.int32()),
                ("cardinality", pa.int64()),
            ])),
            # row tracking state (PROTOCOL.md Row Tracking): a checkpoint
            # that dropped these would reassign every row's identity
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
        ])),
        ("txn", pa.struct([
            ("appId", pa.string()),
            ("version", pa.int64()),
        ])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([
                ("provider", pa.string()),
                ("options", str_map),
            ])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map),
            ("createdTime", pa.int64()),
        ])),
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            # v3/v7 tables declare table features; a checkpoint without
            # them makes replay raise on the feature check
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ])),
        # domain metadata is TABLE STATE (PROTOCOL.md): a checkpoint
        # that dropped it would lose e.g. the clustered-table column
        # list once the JSON commits are cleaned up
        ("domainMetadata", pa.struct([
            ("domain", pa.string()),
            ("configuration", pa.string()),
            ("removed", pa.bool_()),
        ])),
    ])

    def as_map(d):
        return sorted((d or {}).items())

    meta_row = {
        "id": meta.get("id"),
        "format": {
            "provider": (meta.get("format") or {}).get("provider", "parquet"),
            "options": as_map((meta.get("format") or {}).get("options")),
        },
        "schemaString": meta.get("schemaString"),
        "partitionColumns": list(meta.get("partitionColumns") or []),
        "configuration": as_map(meta.get("configuration")),
        "createdTime": meta.get("createdTime"),
    }
    proto_row = {
        "minReaderVersion": int(proto.get("minReaderVersion", 1)),
        "minWriterVersion": int(proto.get("minWriterVersion", 2)),
        "readerFeatures": proto.get("readerFeatures"),
        "writerFeatures": proto.get("writerFeatures"),
    }
    rows = [
        {"add": None, "txn": None, "metaData": meta_row, "protocol": None},
        {"add": None, "txn": None, "metaData": None, "protocol": proto_row},
    ]
    for app_id, tv in sorted(txns.items()):
        rows.append({
            "add": None,
            "txn": {"appId": app_id, "version": int(tv)},
            "metaData": None,
            "protocol": None,
        })
    for dom in sorted(replay_domains(table, version).values(),
                      key=lambda d: d["domain"]):
        rows.append({
            "add": None, "txn": None, "metaData": None, "protocol": None,
            "domainMetadata": {
                "domain": dom["domain"],
                "configuration": dom.get("configuration"),
                "removed": False,
            },
        })
    for a in adds:
        rows.append({
            "add": {
                "path": a["path"],
                "partitionValues": as_map(a.get("partitionValues")),
                "size": a.get("size"),
                "modificationTime": a.get("modificationTime"),
                "dataChange": bool(a.get("dataChange", True)),
                "stats": a.get("stats"),
                "baseRowId": a.get("baseRowId"),
                "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
                "deletionVector": (
                    {
                        "storageType": dv.get("storageType"),
                        "pathOrInlineDv": dv.get("pathOrInlineDv"),
                        "offset": dv.get("offset"),
                        "sizeInBytes": dv.get("sizeInBytes"),
                        "cardinality": dv.get("cardinality"),
                    }
                    if (dv := a.get("deletionVector"))
                    else None
                ),
            },
            "txn": None,
            "metaData": None,
            "protocol": None,
        })
    log_dir = os.path.join(table, "_delta_log")
    conf = (meta or {}).get("configuration") or {}
    policy = str(conf.get("delta.checkpointPolicy", "classic")).lower()
    if policy == "v2":
        # feature-gated: a v2 checkpoint is unreadable to clients without
        # the reader feature, so never emit one the protocol doesn't declare
        feats = set((proto or {}).get("readerFeatures") or [])
        if "v2Checkpoint" not in feats:
            raise ValueError(
                "delta checkpoint: delta.checkpointPolicy=v2 but the "
                "table's protocol lacks the v2Checkpoint reader feature — "
                "set the property at CREATE time so the protocol carries it"
            )
        top_rows = [r for r in rows if r["add"] is None]
        add_rows = [r["add"] for r in rows if r["add"] is not None]
        side_dir = os.path.join(log_dir, "_sidecars")
        os.makedirs(side_dir, exist_ok=True)
        chunk = max(
            1, int(conf.get("delta.checkpoint.sidecarActionCount", 100_000))
        )
        add_type = schema.field("add").type
        side_schema = pa.schema([("add", add_type)])
        now_ms = int(time.time() * 1000)
        sidecars = []
        for lo in range(0, len(add_rows), chunk) if add_rows else []:
            sname = f"{uuid.uuid4()}.parquet"
            spath = os.path.join(side_dir, sname)
            pq.write_table(
                pa.Table.from_pylist(
                    [{"add": a} for a in add_rows[lo:lo + chunk]],
                    schema=side_schema,
                ),
                spath,
            )
            sidecars.append({
                "path": sname,
                "sizeInBytes": os.path.getsize(spath),
                "modificationTime": now_ms,
            })
        top_schema = pa.schema([
            ("checkpointMetadata", pa.struct([("version", pa.int64())])),
            ("sidecar", pa.struct([
                ("path", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("modificationTime", pa.int64()),
            ])),
            ("txn", schema.field("txn").type),
            ("metaData", schema.field("metaData").type),
            ("protocol", schema.field("protocol").type),
            ("domainMetadata", schema.field("domainMetadata").type),
        ])
        blank = {"checkpointMetadata": None, "sidecar": None, "txn": None,
                 "metaData": None, "protocol": None, "domainMetadata": None}
        top = (
            [{**blank, "checkpointMetadata": {"version": version}}]
            + [{**blank, "txn": r["txn"], "metaData": r["metaData"],
                "protocol": r["protocol"],
                "domainMetadata": r.get("domainMetadata")}
               for r in top_rows]
            + [{**blank, "sidecar": sc} for sc in sidecars]
        )
        path = os.path.join(
            log_dir, f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet"
        )
        pq.write_table(pa.Table.from_pylist(top, schema=top_schema), path)
        with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
            json.dump({"version": version, "size": len(rows),
                       "checkpointPolicy": "v2"}, fh)
        return
    part_size = int(conf.get("delta.checkpoint.partSize", 0) or 0)
    if part_size > 0 and len(rows) > part_size:
        # multi-part classic checkpoint (<v>.checkpoint.<part>.<parts>
        # .parquet + a "parts" hint): the pre-v2 way to keep any single
        # checkpoint artifact bounded when the add state outgrows one
        # file; readers consolidate all parts (ours included)
        chunks = [
            rows[lo:lo + part_size] for lo in range(0, len(rows), part_size)
        ]
        for i, chunk in enumerate(chunks, start=1):
            path = os.path.join(
                log_dir,
                f"{version:020d}.checkpoint.{i:010d}.{len(chunks):010d}"
                ".parquet",
            )
            pq.write_table(pa.Table.from_pylist(chunk, schema=schema), path)
        with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
            json.dump({"version": version, "size": len(rows),
                       "parts": len(chunks)}, fh)
        return
    path = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)


@module("delta", kind=KIND_SINK)
def delta_sink(ctx: ModuleContext) -> dict[str, Any]:
    """`delta` sink module: filesystem Delta tables, committed natively.

    Streaming inputs commit one Delta version per micro-batch through
    foreachBatch (Spark's streaming checkpoint provides exactly-once
    batch replay; an empty micro-batch commits nothing, so restarts do
    not create empty versions).  ``mode: overwrite`` applies only to the
    FIRST batch (complete-refresh semantics), later batches append —
    the same contract delta-spark's own streaming writer has.
    """
    df = ctx.input
    p = ctx.params
    maintenance = str(p.get("mode", "")).lower()
    if maintenance in (
        "compact", "vacuum", "delete", "update", "alter", "restore",
        "clone",
    ):
        # table maintenance/mutation: the input only provides the session;
        # the table itself is the operand
        if maintenance == "compact":
            compact_delta_native(ctx.spark, p)
        elif maintenance == "vacuum":
            vacuum_delta_native(ctx.spark, p)
        elif maintenance == "delete":
            delete_delta_native(ctx.spark, p)
        elif maintenance == "alter":
            alter_delta_native(ctx.spark, p)
        elif maintenance == "restore":
            restore_delta_native(ctx.spark, p)
        elif maintenance == "clone":
            clone_delta_native(ctx.spark, p)
        else:
            update_delta_native(ctx.spark, p)
        return {}
    if maintenance == "merge" and not df.isStreaming:
        # CDC shape: the module INPUT is the keyed mutation batch
        merge_delta_native(ctx.spark, df, p)
        return {}
    if not df.isStreaming:
        write_delta_native(ctx.spark, df, p)
        return {}

    table = p.get("path") or p.get("table") or p.get("output")
    if not table:
        raise ValueError("delta sink: 'path' is required")
    first_mode = str(p.get("mode", "append")).lower()
    checkpoint = p.get("checkpointLocation", str(table).rstrip("/") + "_checkpoint")
    # txn appId scopes idempotence to this stream: a replayed micro-batch
    # (restart between table commit and checkpoint commit) is a no-op
    app_id = str(p.get("txnAppId", f"pipeline_spark::{checkpoint}"))

    def write_batch(bdf, batch_id: int) -> None:
        if bdf.isEmpty():
            return
        if first_mode == "merge":
            # streaming CDC upsert: each micro-batch merges by key (txn
            # marker = exactly-once under checkpoint replay)
            merge_delta_native(
                ctx.spark, bdf, p, txn=(app_id, int(batch_id))
            )
            return
        mode = first_mode if batch_id == 0 else "append"
        write_delta_native(
            ctx.spark, bdf, {**p, "mode": mode}, txn=(app_id, int(batch_id))
        )

    write_batches(
        df,
        write_batch,
        checkpoint=checkpoint,
        output_mode=p.get("outputMode", "append"),
        wait=p.get("await", True),
    )
    return {}
