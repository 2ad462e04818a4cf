"""Native Delta Lake reader: batch reads without the delta-spark jar.

A Delta table on a filesystem is fully public format (PROTOCOL.md in the
delta-io/delta repo): parquet data files plus a ``_delta_log/`` of
line-delimited JSON commits and periodic parquet checkpoints.  The
reference engine reads warehouse formats through vendor runtimes
(module/source/IcebergSource.java:20-108 is the closest analogue); here
the delta-spark extension cannot be enabled mid-session even when
present, so the metadata path runs natively:

  _delta_log/_last_checkpoint  → {"version": N, ["parts": k]}
    → N.checkpoint(.part)*.parquet  (consolidated add/remove/metaData)
  _delta_log/<v>.json for v > N  → replayed last-wins per file path
    → active data file paths → ``spark.read.parquet(*paths)``

Scale posture: the log is KB-MB per commit and the checkpoint holds one
row per live file — both read driver-side, exactly like Delta's own
log replay on the Spark driver.  The data path stays a parquet scan
with full Catalyst pushdown; partitioned tables take the hive-layout
``basePath`` fast path (partition columns pruned by directory), falling
back to per-partition-value literal groups for non-hive layouts.

Deletion vectors (merge-on-read deletes) are read natively: DV bitmaps
decode executor-side (functions/deltadv.py) into a (file, row index)
frame anti-joined against ``_metadata.file_path`` / ``row_index`` — no
driver materialization of deleted positions.  Column mapping resolves
via each field's ``delta.columnMapping.physicalName`` metadata: files
read under the physical schema, one positional struct cast restores the
logical names (works for ``name`` mode and for ``id``-mode tables that
also record physical names, which delta-spark always does).

V2 checkpoints (UUID-named ``<v>.checkpoint.<uuid>.{json,parquet}``,
add actions delegated to ``_delta_log/_sidecars/`` parquet files) replay
through the same loader; ``versionAsOf`` and ``timestampAsOf`` time
travel are supported (commit time = commit-file mtime, delta's own
source when in-commit-timestamps are off).
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse
from typing import Any

_CKPT_SINGLE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_CKPT_MULTI = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
# v2 checkpoints (PROTOCOL.md "V2 Checkpoint Table Feature"): UUID-named
# <v>.checkpoint.<uniqueStr>.{json,parquet}, whose rows may delegate the
# add actions to sidecar parquet files under _delta_log/_sidecars/
_CKPT_V2 = re.compile(r"^(\d{20})\.checkpoint\.[A-Za-z0-9_-]+\.(json|parquet)$")
_COMMIT = re.compile(r"^(\d{20})\.json$")
_ISO_PREFIX = re.compile(r"^\d{4}-\d{2}-\d{2}[ T]")

#: reader features this implementation understands when minReaderVersion=3
_OK_READER_FEATURES = {
    "timestampNtz",
    "vacuumProtocolCheck",
    "checkConstraints",
    "appendOnly",
    "invariants",
    "deletionVectors",  # read natively (functions/deltadv.py)
    "columnMapping",    # resolved via physicalName field metadata
    "v2Checkpoint",     # UUID-named checkpoints + sidecar files
    "typeWidening",     # safe promotions; parquet readers upcast natively
    "typeWidening-preview",
}


def _log_dir(table_path: str) -> str:
    d = os.path.join(table_path, "_delta_log")
    if not os.path.isdir(d):
        raise FileNotFoundError(
            f"delta: no _delta_log directory at {d} — is '{table_path}' a "
            "Delta table location?"
        )
    return d


def _list_commits(log_dir: str) -> list[tuple[int, str]]:
    out = []
    for name in os.listdir(log_dir):
        m = _COMMIT.match(name)
        if m:
            out.append((int(m.group(1)), os.path.join(log_dir, name)))
    return sorted(out)


def latest_version(log_dir: str) -> int | None:
    """Highest committed version: max of JSON commits and the
    _last_checkpoint hint (commits at or below a checkpoint may have
    been vacuumed away)."""
    versions = [v for v, _ in _list_commits(log_dir)]
    hint = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(hint):
        with open(hint) as fh:
            versions.append(int(json.load(fh)["version"]))
    return max(versions) if versions else None


def _commit_time(path: str) -> float:
    """A commit's effective time in epoch seconds: the ICT feature's
    ``inCommitTimestamp`` (first-line commitInfo, r7) when present —
    robust to file copies/restores — else the commit file's mtime, the
    same fallback delta-spark uses."""
    try:
        with open(path) as fh:
            first = json.loads(fh.readline())
        ci = first.get("commitInfo")
        if isinstance(ci, dict) and ci.get("inCommitTimestamp") is not None:
            return int(ci["inCommitTimestamp"]) / 1000.0
    except (OSError, ValueError):
        pass
    return os.path.getmtime(path)


def _version_at_timestamp(log_dir: str, ts) -> int:
    """Latest version whose commit time <= ``ts`` — delta's
    ``timestampAsOf`` contract.  Commit time = in-commit timestamp when
    the table writes them (r7), else the commit file's modification
    time — the same sources delta-spark reads.  ``ts`` accepts an epoch
    number or an ISO-8601 string (naive strings are interpreted as
    UTC).  Commits vacuumed below a checkpoint are not resolvable (same
    limit as the runtime)."""
    import datetime as _dt

    if isinstance(ts, (int, float)):
        want = float(ts)
    else:
        parsed = _dt.datetime.fromisoformat(str(ts).replace("T", " "))
        if parsed.tzinfo is None:
            parsed = parsed.replace(tzinfo=_dt.timezone.utc)
        want = parsed.timestamp()
    commits = _list_commits(log_dir)
    if not commits:
        raise FileNotFoundError(f"delta: empty _delta_log at {log_dir}")
    best = None
    latest_ts = None
    for v, path in commits:
        ctime = _commit_time(path)
        latest_ts = ctime if latest_ts is None else max(latest_ts, ctime)
        if ctime <= want:
            best = v if best is None else max(best, v)
    if best is None:
        raise ValueError(
            f"delta: timestampAsOf {ts!r} is before the earliest available "
            f"commit (version {commits[0][0]}) — nothing to time-travel to"
        )
    if want > latest_ts:
        # delta-spark contract: a timestamp after the newest commit is an
        # error, not a silent read of current state — a typo'd future
        # timestamp must fail loudly instead of masquerading as history.
        import datetime as _dt

        latest_iso = _dt.datetime.fromtimestamp(
            latest_ts, _dt.timezone.utc
        ).isoformat()
        raise ValueError(
            f"delta: timestampAsOf {ts!r} is after the latest commit "
            f"(version {max(v for v, _ in commits)} at {latest_iso}); "
            "use a timestamp at or before that, or omit timestampAsOf "
            "to read the current state"
        )
    return best


def _checkpoint_files(log_dir: str, version: int) -> list[str]:
    """All files of the checkpoint at ``version`` — classic single-file,
    multi-part (sorted by part number), or a UUID-named v2 checkpoint."""
    parts = []
    for name in os.listdir(log_dir):
        m = _CKPT_SINGLE.match(name)
        if m and int(m.group(1)) == version:
            return [os.path.join(log_dir, name)]
        m = _CKPT_MULTI.match(name)
        if m and int(m.group(1)) == version:
            parts.append((int(m.group(2)), os.path.join(log_dir, name)))
        m = _CKPT_V2.match(name)
        if m and int(m.group(1)) == version:
            return [os.path.join(log_dir, name)]
    return [p for _, p in sorted(parts)]


def _maps_to_dicts(obj):
    """pyarrow map<k,v> columns round-trip to_pylist as [(k, v), ...] —
    normalize them (recursively) back to dicts so checkpoint state looks
    exactly like JSON-log state."""
    if isinstance(obj, list) and obj and all(
        isinstance(x, tuple) and len(x) == 2 for x in obj
    ):
        return {k: _maps_to_dicts(v) for k, v in obj}
    if isinstance(obj, dict):
        return {k: _maps_to_dicts(v) for k, v in obj.items()}
    return obj


def _iter_checkpoint_rows(path: str):
    """Rows of one checkpoint file — parquet or (v2) line-delimited JSON."""
    if path.endswith(".json"):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)
    else:
        import pyarrow.parquet as pq

        yield from pq.read_table(path).to_pylist()


def _load_checkpoint(
    paths: list[str], log_dir: str | None = None
) -> tuple[dict, dict | None, dict | None, dict]:
    """Consolidated state from checkpoint files: (adds by path, metaData,
    protocol, txns).  v2 checkpoints may carry ``sidecar`` actions whose
    parquet files (under ``_delta_log/_sidecars/``) hold the adds."""
    adds: dict[str, dict] = {}
    txns: dict[str, int] = {}
    meta = proto = None
    sidecars: list[str] = []

    def ingest(row: dict) -> None:
        add = row.get("add")
        if add and add.get("path"):
            adds[add["path"]] = _maps_to_dicts(add)
        md = row.get("metaData")
        if md and md.get("id"):
            nonlocal meta
            meta = _maps_to_dicts(md)
        pr = row.get("protocol")
        if pr and pr.get("minReaderVersion") is not None:
            nonlocal proto
            proto = pr
        tx = row.get("txn")
        if tx and tx.get("appId"):
            txns[tx["appId"]] = max(
                txns.get(tx["appId"], -1), int(tx.get("version", -1))
            )
        sc = row.get("sidecar")
        if sc and sc.get("path"):
            sidecars.append(sc["path"])

    for path in paths:
        for row in _iter_checkpoint_rows(path):
            ingest(row)
    for rel in sidecars:
        if log_dir is None:
            raise ValueError(
                "delta: v2 checkpoint carries sidecar files but no log "
                "directory was provided to resolve them"
            )
        side = rel if os.path.isabs(rel) else os.path.join(
            log_dir, "_sidecars", rel
        )
        if not os.path.exists(side):
            raise FileNotFoundError(
                f"delta: v2 checkpoint sidecar {rel} not found at {side}"
            )
        for row in _iter_checkpoint_rows(side):
            ingest(row)
    return adds, meta, proto, txns


def replay_log(
    table_path: str, version_as_of: int | None = None
) -> tuple[list[dict], dict, dict, int]:
    """Resolve live data files via checkpoint + JSON replay.

    Returns (adds, metaData, protocol, version): ``adds`` are the live
    file actions after last-wins add/remove reconciliation.
    """
    adds, meta, proto, version, _txns = replay_state(table_path, version_as_of)
    return adds, meta, proto, version


def replay_state(
    table_path: str, version_as_of: int | None = None
) -> tuple[list[dict], dict, dict, int, dict[str, int]]:
    """replay_log plus the table's transaction markers: the highest
    ``txn`` version per appId (the streaming writer's idempotence
    bookkeeping — PROTOCOL.md: Transaction Identifiers)."""
    log_dir = _log_dir(table_path)
    commits = _list_commits(log_dir)
    if not commits and not os.path.exists(os.path.join(log_dir, "_last_checkpoint")):
        raise FileNotFoundError(f"delta: empty _delta_log at {log_dir}")

    adds: dict[str, dict] = {}
    txns: dict[str, int] = {}
    meta: dict | None = None
    proto: dict | None = None
    start = 0

    hint = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(hint):
        with open(hint) as fh:
            cp = json.load(fh)
        cp_version = int(cp["version"])
        if version_as_of is None or cp_version <= version_as_of:
            cp_paths = _checkpoint_files(log_dir, cp_version)
            if not cp_paths:
                raise FileNotFoundError(
                    f"delta: _last_checkpoint points at version {cp_version} "
                    f"but no checkpoint parquet exists in {log_dir}"
                )
            adds, meta, proto, txns = _load_checkpoint(cp_paths, log_dir)
            start = cp_version + 1

    last = start - 1
    for version, path in commits:
        if version < start:
            continue
        if version_as_of is not None and version > version_as_of:
            break
        if version > last + 1:
            raise FileNotFoundError(
                f"delta: commit gap in {log_dir} — expected version "
                f"{last + 1}, found {version} (vacuumed log without a "
                "checkpoint?)"
            )
        last = version
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action:
                    adds[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    adds.pop(action["remove"]["path"], None)
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    proto = action["protocol"]
                elif "txn" in action:
                    tx = action["txn"]
                    if tx.get("appId"):
                        txns[tx["appId"]] = max(
                            txns.get(tx["appId"], -1),
                            int(tx.get("version", -1)),
                        )
    if version_as_of is not None and last < version_as_of:
        raise ValueError(
            f"delta: versionAsOf={version_as_of} but the log only reaches "
            f"version {last}"
        )
    if meta is None or proto is None:
        raise ValueError(
            f"delta: log at {log_dir} has no metaData/protocol action — "
            "corrupt or truncated table"
        )
    _check_protocol(proto, meta, adds)
    return list(adds.values()), meta, proto, last, txns


def replay_domains(
    table_path: str, version_as_of: int | None = None
) -> dict[str, dict]:
    """The table's live domain metadata (PROTOCOL.md: Domain Metadata):
    ``{domain: configuration-json-str}`` after last-wins replay, removed
    domains dropped.  Carried through checkpoints like every other
    action, so a cleaned-up log still resolves (e.g. ``delta.clustering``
    — the clustered-table feature's column list lives here)."""
    log_dir = _log_dir(table_path)
    domains: dict[str, dict] = {}

    def ingest(action: dict) -> None:
        dm = action.get("domainMetadata")
        if not dm or not dm.get("domain"):
            return
        if dm.get("removed"):
            domains.pop(dm["domain"], None)
        else:
            domains[dm["domain"]] = dm

    start = 0
    hint = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(hint):
        with open(hint) as fh:
            cp = json.load(fh)
        cp_version = int(cp["version"])
        if version_as_of is None or cp_version <= version_as_of:
            for path in _checkpoint_files(log_dir, cp_version):
                for row in _iter_checkpoint_rows(path):
                    ingest(row)
            start = cp_version + 1
    for version, path in _list_commits(log_dir):
        if version < start:
            continue
        if version_as_of is not None and version > version_as_of:
            break
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    ingest(json.loads(line))
    return domains


def _check_protocol(proto: dict, meta: dict, adds: dict[str, dict]) -> None:
    r = int(proto.get("minReaderVersion", 1))
    conf = meta.get("configuration") or {}
    if conf.get("delta.columnMapping.mode") not in (None, "", "none"):
        # supported when every field records its physical name — the
        # invariant delta-spark maintains for both 'name' and 'id' modes;
        # a table without them cannot be resolved against its files
        fields = json.loads(meta["schemaString"]).get("fields", [])
        missing = [
            f["name"]
            for f in fields
            if "delta.columnMapping.physicalName" not in (f.get("metadata") or {})
        ]
        if missing:
            raise NotImplementedError(
                f"delta: columnMapping.mode="
                f"{conf['delta.columnMapping.mode']} but fields {missing} "
                "carry no delta.columnMapping.physicalName metadata — "
                "cannot resolve physical columns"
            )
    if r >= 3:
        feats = proto.get("readerFeatures")
        if feats is None:
            raise ValueError(
                f"delta: minReaderVersion={r} requires readerFeatures in "
                "the protocol action — corrupt or unsupported table"
            )
        bad = set(feats) - _OK_READER_FEATURES
        if bad:
            raise NotImplementedError(
                f"delta: unsupported readerFeatures {sorted(bad)} — this "
                "table needs the delta-spark runtime"
            )


def _schema_from_meta(meta: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(meta["schemaString"]))


def _phys_json(node):
    """Schema JSON with every field renamed to its
    ``delta.columnMapping.physicalName`` (recursively); metadata cleared."""
    if not isinstance(node, dict):
        return node
    out = dict(node)
    t = node.get("type")
    if t == "struct":
        out["fields"] = [
            {
                **f,
                "name": (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName", f["name"]
                ),
                "type": _phys_json(f["type"]),
                "metadata": {},
            }
            for f in node["fields"]
        ]
    elif t == "array":
        out["elementType"] = _phys_json(node["elementType"])
    elif t == "map":
        out["keyType"] = _phys_json(node["keyType"])
        out["valueType"] = _phys_json(node["valueType"])
    return out


def _column_mapping(meta: dict) -> dict[str, Any] | None:
    """None when the table has no column mapping; else
    {"phys_of": {logical: physical}, "phys_schema": StructType} — the
    physical names files are written under (PROTOCOL.md Column Mapping;
    valid for mode=name, and for mode=id tables that also record
    physical names, which delta-spark always does)."""
    conf = meta.get("configuration") or {}
    if conf.get("delta.columnMapping.mode") in (None, "", "none"):
        return None
    from pyspark.sql.types import StructType

    sj = json.loads(meta["schemaString"])
    phys_of = {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in sj.get("fields", [])
    }
    return {
        "phys_of": phys_of,
        "phys_schema": StructType.fromJson(_phys_json(sj)),
    }


def stats_to_logical(adds: list[dict], cm: dict | None) -> None:
    """Translate each add's stats keys from PHYSICAL to logical names in
    place (metadata scale, driver-side) so stats-based file skipping
    keeps working on logical filter keys."""
    if not cm:
        return
    log_of = {v: k for k, v in cm["phys_of"].items()}
    for a in adds:
        if a.get("stats"):
            try:
                st = json.loads(a["stats"])
                for sect in ("minValues", "maxValues", "nullCount"):
                    if isinstance(st.get(sect), dict):
                        st[sect] = {
                            log_of.get(k, k): v for k, v in st[sect].items()
                        }
                a["stats"] = json.dumps(st)
            except (ValueError, TypeError):
                pass


def _nullable_type(dt):
    """A nullability-relaxed copy of a Spark type: struct casts refuse a
    nullable→non-nullable field, and parquet round-trips erase the
    original non-null markers anyway (Delta's own write behavior)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable_type(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable_type(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _nullable_type(dt.keyType), _nullable_type(dt.valueType), True
        )
    return dt


def to_physical_df(df, cm: dict | None):
    """Rename a logical-schema DataFrame to the physical names data files
    are written under: one positional struct cast per column renames
    every nesting level (the exact inverse of the reader's restore).
    Columns with no mapping (e.g. ``_change_type``) pass through."""
    if not cm:
        return df
    from pyspark.sql import functions as F

    from pipeline_spark.functions.sqltext import atomic_ddl, qi

    # r16: SQL text per column (one selectExpr round-trip) instead of
    # col+cast+alias Column calls each; nested types keep the Column
    # cast (their simpleString would not quote physical field names)
    fields = {f.name: f for f in cm["phys_schema"].fields}
    exprs: list = []
    for name in df.columns:
        p = cm["phys_of"].get(name, name)
        if p in fields:
            t = _nullable_type(fields[p].dataType)
            ddl = atomic_ddl(t)
            if ddl is None:
                exprs.append(F.col(name).cast(t).alias(p))
            else:
                exprs.append(f"CAST({qi(name)} AS {ddl}) AS {qi(p)}")
        else:
            exprs.append(f"{qi(name)} AS {qi(p)}")
    if all(isinstance(e, str) for e in exprs):
        return df.selectExpr(*exprs)
    return df.select(
        *[F.expr(e) if isinstance(e, str) else e for e in exprs]
    )


def to_logical_df(df, cm: dict | None, fields, keep: tuple = ()):
    """Restore logical names on a physical-schema frame: one positional
    struct cast per column renames every nesting level.  ``fields`` =
    the logical StructFields to restore; ``keep`` = passthrough columns
    (``__fp__``, ``_change_type``...) appended verbatim when present."""
    from pyspark.sql import functions as F

    from pipeline_spark.functions.sqltext import atomic_ddl, qi

    if not cm:
        sel: list = [qi(f.name) for f in fields]
    else:
        sel = []
        for f in fields:
            t = _nullable_type(f.dataType)
            ddl = atomic_ddl(t)
            phys = cm["phys_of"].get(f.name, f.name)
            if ddl is None:
                sel.append(F.col(phys).cast(t).alias(f.name))
            else:
                sel.append(f"CAST({qi(phys)} AS {ddl}) AS {qi(f.name)}")
    sel += [qi(k) for k in keep if k in df.columns]
    if all(isinstance(e, str) for e in sel):
        return df.selectExpr(*sel)
    return df.select(*[F.expr(e) if isinstance(e, str) else e for e in sel])


def _is_hive_layout(adds: list[dict], part_cols: list[str]) -> bool:
    """True when every live file path embeds every partition column as a
    ``col=value`` directory segment AND all files share one top-level
    commit directory — Spark's partition discovery can then recover the
    columns without per-file literals.  Files spread across SEVERAL
    commit dirs (the normal state after appends) have a non-partition
    dir between basePath and the partition segments, which Spark's
    inference rejects (CONFLICTING_DIRECTORY_STRUCTURES) even with
    basePath set — those take the per-partition literal-group scan."""
    roots = set()
    for a in adds:
        segs = a["path"].split("/")[:-1]
        seen = {s.split("=", 1)[0] for s in segs if "=" in s}
        if not set(part_cols) <= seen:
            return False
        roots.add(a["path"].split("/", 1)[0])
    return len(roots) <= 1


from pipeline_spark.functions.localframe import local_frame
from pipeline_spark.registry import KIND_SOURCE, ModuleContext, module


@module("delta", kind=KIND_SOURCE)
def delta_source(ctx: ModuleContext) -> dict[str, Any]:
    """`delta` source module: filesystem Delta tables, read natively.
    ``mode: streaming`` follows the commit log as a stream
    (sources/delta_stream.py); ``mode: cdf`` (or ``readChangeFeed:
    true``) returns the change feed between ``startingVersion`` and
    ``endingVersion``."""
    mode = str(ctx.params.get("mode", "")).lower()
    if mode == "history":
        return {"": read_delta_history(ctx.spark, ctx.params)}
    if mode == "streaming":
        if ctx.params.get("readChangeFeed"):
            from pipeline_spark.sources.delta_stream import (
                read_delta_cdf_stream_native,
            )

            return {"": read_delta_cdf_stream_native(ctx.spark, ctx.params)}
        from pipeline_spark.sources.delta_stream import read_delta_stream_native

        return {"": read_delta_stream_native(ctx.spark, ctx.params)}
    if mode == "cdf" or ctx.params.get("readChangeFeed"):
        return {"": read_delta_cdf(ctx.spark, ctx.params)}
    return {"": read_delta_native(ctx.spark, ctx.params)}


def live_rows(spark, table: str, meta: dict, files: list[dict], *,
              lineage: bool = False, positions: bool = False):
    """The live rows of some add actions of one snapshot (``meta`` is its
    metaData action): the logical columns, column mapping undone and
    partition values attached, without the rows a deletion vector
    removed.  The source, the row-level adapter and the change feed read
    a Delta table through this one function.

    A hive layout reads in one ``basePath`` scan (Spark prunes its
    partition directories); any other layout in one scan per partition
    tuple, its values attached as literals.  A DV file's rows anti-join
    its executor-decoded ``(__fp__, __pos__)`` frame: the normalized
    file path and physical row index, kept on the output with
    ``positions``.  ``lineage`` adds ``_row_id`` and
    ``_row_commit_version`` (PROTOCOL.md Row Tracking): the value a
    rewrite materialized, else the file's baseRowId plus the row's
    position and its defaultRowCommitVersion."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from pipeline_spark.functions.sqltext import fp_norm_sql, qi

    schema = _schema_from_meta(meta)
    part_cols = list(meta.get("partitionColumns") or [])
    cm = _column_mapping(meta)
    conf = meta.get("configuration") or {}
    mat_id, mat_cv = (
        conf.get("delta.rowTracking.materializedRowIdColumnName"),
        conf.get("delta.rowTracking.materializedRowCommitVersionColumnName"),
    ) if lineage else (None, None)
    read_schema = StructType(
        list((cm["phys_schema"] if cm else schema).fields)
        + [StructField(c, LongType(), True) for c in (mat_id, mat_cv) if c]
    )
    phys_part = (
        [cm["phys_of"].get(c, c) for c in part_cols] if cm else part_cols
    )
    paths = [
        os.path.join(table, urllib.parse.unquote(a["path"])) for a in files
    ]
    dv = [
        (os.path.abspath(pth), a["deletionVector"])
        for a, pth in zip(files, paths) if a.get("deletionVector")
    ]
    tag = bool(dv or lineage or positions)

    def scan(reader, sch, ps):
        df = reader.schema(sch).parquet(*ps)
        if not tag:
            return df
        # normalize the URI ("file:/p" → "/p", %XX decoded) so it
        # matches the descriptor-side os.path.abspath form
        return df.selectExpr(
            "*", fp_norm_sql("_metadata.file_path") + " AS __fp__",
            "_metadata.row_index AS __pos__",
        )

    if part_cols and _is_hive_layout(files, phys_part):
        df = scan(spark.read.option("basePath", table), read_schema, paths)
    else:
        # explicit files skip partition-directory inference: staged
        # rewrite dirs (data-delete-*/grp-*) sit at other depths than
        # plain data dirs (CONFLICTING_DIRECTORY_STRUCTURES)
        fschema = StructType(
            [f for f in read_schema.fields if f.name not in phys_part]
        )
        types = {f.name: f.dataType for f in read_schema.fields}
        groups: dict[tuple, list[str]] = {}
        for a, pth in zip(files, paths):
            pv = a.get("partitionValues") or {}
            key = tuple(pv.get(c) for c in phys_part)
            groups.setdefault(key, []).append(pth)
        df = None
        for key, gpaths in groups.items():
            g = scan(
                spark.read.option("recursiveFileLookup", "true"), fschema,
                gpaths,
            )
            if phys_part:
                g = g.selectExpr(
                    "*", *partition_literal_sql(zip(phys_part, key), types)
                )
            df = g if df is None else df.unionByName(g)
    if dv:
        tbl = table

        def decode(it):
            # bitmap decode runs ON EXECUTORS — deleted positions never
            # materialize on the driver (a DV can carry millions of rows)
            import json as _j

            from pipeline_spark.functions.deltadv import load_dv_positions

            for fp, dj in it:
                for pos in load_dv_positions(tbl, _j.loads(dj)):
                    yield (fp, int(pos))

        from pipeline_spark.functions.dvframe import (
            positions_frame,
            total_rows_of,
        )

        deleted, small = positions_frame(
            spark, [(fp, json.dumps(d)) for fp, d in dv], decode,
            "__fp__ string, __pos__ bigint",
            total_rows_of(d.get("cardinality") for _fp, d in dv),
        )
        df = df.join(
            F.broadcast(deleted) if small else deleted,
            on=["__fp__", "__pos__"], how="left_anti",
        )
    meta_cols = ("__fp__", "__pos__") if positions or lineage else ()
    df = to_logical_df(
        df, cm, schema.fields,
        keep=(*meta_cols, *filter(None, (mat_id, mat_cv))),
    )
    if not lineage:
        return df
    rid = local_frame(
        spark,
        [
            (os.path.abspath(pth), int(a.get("baseRowId") or 0),
             int(a.get("defaultRowCommitVersion") or 0))
            for a, pth in zip(files, paths)
        ],
        "__rt_fp string, __rt_base long, __rt_dcv long",
    )
    df = df.join(F.broadcast(rid), df["__fp__"] == rid["__rt_fp"], "left")
    return df.selectExpr(
        *[qi(f.name) for f in schema.fields],
        *(("__fp__", "__pos__") if positions else ()),
        "coalesce({}, __rt_base + __pos__) AS _row_id".format(
            qi(mat_id) if mat_id else "CAST(NULL AS BIGINT)"
        ),
        "coalesce({}, __rt_dcv) AS _row_commit_version".format(
            qi(mat_cv) if mat_cv else "CAST(NULL AS BIGINT)"
        ),
    )


def read_delta_cdf(spark, p: dict[str, Any]):
    """Change Data Feed between two versions (delta's ``table_changes``).

    For each commit in [startingVersion, endingVersion]:

      * ``cdc`` actions present → ONLY those change files are read (the
        writer recorded exact row-level changes: ``delete``,
        ``update_preimage``/``update_postimage``);
      * otherwise data-changing ``add`` files surface as ``insert`` rows
        and data-changing ``remove`` files as ``delete`` rows (reading
        the removed file's content — full-file semantics, e.g. an
        overwrite), per the protocol's CDF derivation rule.

    Output columns: table columns + ``_change_type``,
    ``_commit_version``, ``_commit_timestamp``.  The log must still hold
    every commit in range (vacuumed/checkpoint-trimmed history errors
    actionably); planning is O(commits in range) driver-side, file reads
    stay distributed.
    """
    from pyspark.sql.types import StructType

    from pipeline_spark.functions.sqltext import qi

    table = p.get("path") or p.get("table") or p.get("input")
    if not table:
        raise ValueError("delta cdf: 'path' is required")
    log_dir = _log_dir(table)
    last = latest_version(log_dir)
    if last is None:
        raise FileNotFoundError(f"delta cdf: empty _delta_log at {log_dir}")
    start = int(p.get("startingVersion", 0))
    end = int(p.get("endingVersion", last))
    if start > end:
        raise ValueError(f"delta cdf: startingVersion {start} > endingVersion {end}")
    commits = dict(_list_commits(log_dir))
    missing = [v for v in range(start, end + 1) if v not in commits]
    if missing:
        raise FileNotFoundError(
            f"delta cdf: commits {missing} are no longer in the log "
            "(checkpoint-trimmed or vacuumed) — change feed needs the "
            "JSON history for the requested range"
        )
    # schema as of the requested end (CDF ranges are read under one schema)
    _adds, meta, _proto, _v, _t = replay_state(table, end)
    if (meta.get("configuration") or {}).get(
        "delta.enableChangeDataFeed", ""
    ).lower() != "true":
        # derivable changes (pure appends/overwrites) still work, but
        # row-level DML history before enablement is not reconstructable;
        # mirror delta's own behavior of refusing silently-partial feeds
        raise ValueError(
            "delta cdf: table does not set delta.enableChangeDataFeed=true "
            "— row-level changes were not recorded"
        )
    schema = _schema_from_meta(meta)
    part_cols = list(meta.get("partitionColumns") or [])
    cm = _column_mapping(meta)
    # cdc files are written under PHYSICAL names on column-mapped tables:
    # read under the physical schema, logical names restored after
    read_fields = cm["phys_schema"].fields if cm else schema.fields
    phys_part = (
        [cm["phys_of"].get(c, c) for c in part_cols] if cm else part_cols
    )
    types = {f.name: f.dataType for f in read_fields}
    cdc_schema = StructType(
        [f for f in read_fields if f.name not in phys_part]
    ).add("_change_type", "string")

    def stamp(df, ctype, version, ts_ms):
        return df.selectExpr(
            *[qi(f.name) for f in schema.fields],
            "_change_type" if ctype is None else f"'{ctype}' AS _change_type",
            f"CAST({int(version)} AS BIGINT) AS _commit_version",
            f"timestamp_millis(CAST({int(ts_ms)} AS BIGINT)) "
            "AS _commit_timestamp",
        )

    parts = []
    for v in range(start, end + 1):
        cdc_actions, add_actions, remove_actions = [], [], []
        ts_ms = int(os.path.getmtime(commits[v]) * 1000)
        with open(commits[v]) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "cdc" in action:
                    cdc_actions.append(action["cdc"])
                elif "add" in action and action["add"].get("dataChange", True):
                    add_actions.append(action["add"])
                elif "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    remove_actions.append(action["remove"])
                elif "commitInfo" in action and action["commitInfo"].get(
                    "timestamp"
                ):
                    ts_ms = int(action["commitInfo"]["timestamp"])
        if cdc_actions:
            # one multi-path scan per partition tuple, not per file —
            # a realistic range would otherwise chain thousands of scans
            grouped: dict[tuple, list[str]] = {}
            for c in cdc_actions:
                pv = c.get("partitionValues") or {}
                grouped.setdefault(
                    tuple(pv.get(k) for k in phys_part), []
                ).append(os.path.join(table, urllib.parse.unquote(c["path"])))
            for key, cpaths in grouped.items():
                df = spark.read.schema(cdc_schema).parquet(*cpaths)
                if phys_part:
                    df = df.selectExpr(
                        "*", *partition_literal_sql(zip(phys_part, key), types)
                    )
                df = to_logical_df(
                    df, cm, schema.fields, keep=("_change_type",)
                )
                parts.append(stamp(df, None, v, ts_ms))
            continue
        if add_actions:
            df = live_rows(spark, table, meta, add_actions)
            parts.append(stamp(df, "insert", v, ts_ms))
        if remove_actions:
            # delete rows = the removed files' content AS OF the prior
            # version: the pre-remove add carries the file's deletion
            # vector, which must not resurrect already-deleted rows
            prior_adds, _m2, _p2, _v2, _t2 = replay_state(table, v - 1)
            prior_by_path = {a["path"]: a for a in prior_adds}
            for r in remove_actions:
                if not os.path.exists(
                    os.path.join(table, urllib.parse.unquote(r["path"]))
                ):
                    raise FileNotFoundError(
                        f"delta cdf: removed file {r['path']} (version "
                        f"{v}) was vacuumed — its delete rows cannot "
                        "be reconstructed"
                    )
            df = live_rows(spark, table, meta, [
                prior_by_path.get(r["path"], r) for r in remove_actions
            ])
            parts.append(stamp(df, "delete", v, ts_ms))
    if not parts:
        empty = StructType([*schema.fields]).add("_change_type", "string").add(
            "_commit_version", "long"
        ).add("_commit_timestamp", "timestamp")
        return local_frame(spark, [], empty)
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    id_cols = [str(c) for c in (p.get("identifierColumns") or [])]
    if id_cols:
        # r8: pair per-key delete+insert within one commit into update
        # pre/post images and net out unchanged full-file-derivation
        # pairs — writer-staged update_* rows pass through untouched
        from pipeline_spark.functions.cdc import compute_cdc_updates

        out = compute_cdc_updates(
            out, [f.name for f in schema.fields], id_cols,
            ["_commit_version", "_commit_timestamp"],
        )
    return out


def _coerce_stat(v, want):
    """Parse a stats-JSON value and the filter literal into comparables.

    ISO-8601 date/timestamp strings compare lexicographically, which
    matches chronological order for the fixed-width format the stats
    writer emits."""
    if v is None or want is None:
        return None, None
    def norm(s: str) -> str:
        # normalize the 'T' vs ' ' datetime separator so lexicographic
        # comparison stays chronological across both spellings, and strip
        # a UTC offset suffix (externally-written stats may carry
        # '+00:00'/'Z', which would sort after every suffix-free literal)
        if _ISO_PREFIX.match(s):
            s = s.replace(" ", "T")
            if s.endswith("Z"):
                s = s[:-1]
            elif s.endswith("+00:00"):
                s = s[:-6]
            return s
        return s

    if isinstance(v, str) and not isinstance(want, str):
        # ISO-encoded date/timestamp stat vs a non-string filter literal
        return norm(v), norm(str(want))
    if isinstance(v, (int, float)) and isinstance(want, (int, float, bool)):
        return float(v), float(want)
    if isinstance(v, str) and isinstance(want, str):
        return norm(v), norm(want)
    if isinstance(v, bool) or isinstance(want, bool):
        return bool(v), bool(want)
    try:
        return float(v), float(want)
    except (TypeError, ValueError):
        return None, None


def _stats_may_match(a: dict, dfilter: list[dict], schema) -> bool:
    """False only when the file's stats PROVE no row satisfies EVERY
    predicate (the filter list is an AND).  Absent stats → True."""
    raw = a.get("stats")
    if not raw:
        return True
    try:
        st = json.loads(raw) if isinstance(raw, str) else raw
    except (TypeError, ValueError):
        return True
    mins = st.get("minValues") or {}
    maxs = st.get("maxValues") or {}
    nulls = st.get("nullCount") or {}
    nrec = st.get("numRecords")
    for f in dfilter:
        key, op = f.get("key"), str(f.get("op", "=")).lower()
        want = f.get("value")
        if op in ("isnull", "is_null"):
            if key in nulls and nulls[key] == 0:
                return False
            continue
        if op in ("isnotnull", "is_not_null"):
            if key in nulls and nrec is not None and nulls[key] == nrec:
                return False
            continue
        if op == "in":
            vals = want if isinstance(want, (list, tuple)) else [want]
            ok = False
            for v in vals:
                l2, wv = _coerce_stat(mins.get(key), v)
                h2, _ = _coerce_stat(maxs.get(key), v)
                if l2 is None or h2 is None or (l2 <= wv <= h2):
                    ok = True
                    break
            if not ok:
                return False
            continue
        lo, w1 = _coerce_stat(mins.get(key), want)
        hi, w2 = _coerce_stat(maxs.get(key), want)
        if lo is None or hi is None:
            continue
        if op in ("=", "=="):
            if w1 < lo or w2 > hi:
                return False
        elif op == "<":
            if lo >= w1:
                return False
        elif op == "<=":
            if lo > w1:
                return False
        elif op == ">":
            if hi <= w1:
                return False
        elif op == ">=":
            if hi < w1:
                return False
        # != and unknown ops: stats cannot prune soundly — keep the file
    return True


def data_filter_condition(dfilter: list[dict]):
    """The AND of a predicate list as one Column (shared by the readers'
    dataFilter and the writers' delete-WHERE): one F.expr round-trip
    over :func:`data_filter_sql`."""
    from pyspark.sql import functions as F

    return F.expr(data_filter_sql(dfilter))


def data_filter_sql(dfilter: list[dict]) -> str:
    """SQL text of the AND of a predicate list.  Keys spell as F.col
    reads them (unquoted dots navigate struct fields); values as F.lit
    builds them (``sql_lit`` raises ValueError for a value with no exact
    spelling); an unknown op raises ValueError."""
    from pipeline_spark.functions.sqltext import col_ref, sql_lit

    if isinstance(dfilter, dict):
        dfilter = [dfilter]
    parts = []
    for f in dfilter:
        key, op = col_ref(str(f.get("key"))), str(f.get("op", "=")).lower()
        want = f.get("value")
        if op in ("=", "=="):
            parts.append(f"({key} = {sql_lit(want)})")
        elif op in ("!=", "<", "<=", ">", ">="):
            parts.append(f"({key} {op} {sql_lit(want)})")
        elif op == "in":
            vals = list(want if isinstance(want, (list, tuple)) else [want])
            if vals:
                parts.append(
                    f"({key} IN (" + ", ".join(sql_lit(v) for v in vals) + "))"
                )
            else:
                # Column isin([]) is false for every row, NULL included;
                # SQL has no empty IN list
                parts.append(f"({key} IS NULL AND false)")
        elif op in ("isnull", "is_null"):
            parts.append(f"({key} IS NULL)")
        elif op in ("isnotnull", "is_not_null"):
            parts.append(f"({key} IS NOT NULL)")
        else:
            raise ValueError(f"delta dataFilter: unknown op '{op}'")
    return " AND ".join(parts)


def partition_literal_sql(values, types: dict) -> list[str]:
    """One partition group's values (``(physical column, partitionValues
    string)`` pairs) as ``CAST(<literal> AS <type>) AS <name>`` select
    texts — the lexical value cast to the column type, as F.lit(v).cast
    does; ``types`` is keyed by physical name."""
    from pipeline_spark.functions.sqltext import atomic_ddl, qi, sql_lit

    out = []
    for name, v in values:
        ddl = atomic_ddl(types[name])
        if ddl is None:
            raise ValueError(
                f"delta: partition column {name!r} has non-atomic type "
                f"{types[name].simpleString()}"
            )
        out.append(f"CAST({sql_lit(v)} AS {ddl}) AS {qi(name)}")
    return out


def _apply_data_filter(df, dfilter: list[dict]):
    """The row-level semantics of dataFilter — file skipping is only an
    optimization layered under this."""
    return df.where(data_filter_condition(dfilter))


def read_delta_native(spark, p: dict[str, Any]):
    """DataFrame over a filesystem Delta table via the metadata path."""
    from pyspark.sql.types import StructType

    table = p.get("path") or p.get("table") or p.get("input")
    if not table:
        raise ValueError("delta source: 'path' is required")
    version = p.get("versionAsOf")
    if p.get("timestampAsOf") is not None:
        if version is not None:
            raise ValueError(
                "delta: versionAsOf and timestampAsOf are mutually exclusive"
            )
        version = _version_at_timestamp(_log_dir(table), p["timestampAsOf"])
    adds, meta, _proto, _v = replay_log(
        table, int(version) if version is not None else None
    )
    # row tracking (PROTOCOL.md Row Tracking): ``withRowIds: true`` adds
    # ``_row_id`` / ``_row_commit_version``, an empty read included
    want_ri = bool(p.get("withRowIds"))
    schema = _schema_from_meta(meta)
    empty = schema
    if want_ri:
        empty = StructType(schema.fields).add("_row_id", "long").add(
            "_row_commit_version", "long"
        )
    part_cols = list(meta.get("partitionColumns") or [])
    cm = _column_mapping(meta)
    # files, partitionValues keys and stats keys all use PHYSICAL names;
    # translate stats back to logical once (metadata scale) so dataFilter
    # skipping keeps working on logical columns
    stats_to_logical(adds, cm)
    pfilter = p.get("partitionFilter")
    if pfilter:
        # LOG-level pruning: drop whole data files by their recorded
        # partitionValues before Spark plans a single task (the same
        # shape as the iceberg reader's manifest pruning).  Filter form:
        # {partition_column: value | [values]}, matched on the raw
        # string values the log stores.
        unknown = set(pfilter) - set(part_cols)
        if unknown:
            raise ValueError(
                f"delta: partitionFilter fields {sorted(unknown)} are not "
                f"partition columns (have {part_cols})"
            )

        def keep(a: dict) -> bool:
            pv = a.get("partitionValues") or {}
            for k, want in pfilter.items():
                have = pv.get(cm["phys_of"].get(k, k) if cm else k)
                if isinstance(want, (list, tuple)):
                    if have not in [str(w) for w in want]:
                        return False
                elif have != str(want):
                    return False
            return True

        adds = [a for a in adds if keep(a)]
        if not adds:
            raise ValueError(
                f"delta: partitionFilter {pfilter} matches no data files"
            )
    dfilter = p.get("dataFilter")
    if dfilter:
        # STATS-level file skipping: drop whole data files whose recorded
        # add.stats PROVE no row can match (min/max disjoint, null counts
        # decisive).  Files without stats always survive — skipping is an
        # optimization, the row-level filter below is the semantics.
        if isinstance(dfilter, dict):
            dfilter = [dfilter]
        adds = [a for a in adds if _stats_may_match(a, dfilter, schema)]
        if not adds:
            return _apply_data_filter(local_frame(spark, [], empty), dfilter)
    if not adds:
        return local_frame(spark, [], empty)
    if want_ri:
        missing_ri = [a["path"] for a in adds if a.get("baseRowId") is None]
        if missing_ri:
            raise ValueError(
                "delta: withRowIds needs a row-tracking table — files "
                f"without baseRowId: {missing_ri[:3]}"
            )
    out = live_rows(spark, table, meta, adds, lineage=want_ri)
    return _apply_data_filter(out, dfilter) if dfilter else out


def read_delta_history(spark, p: dict[str, Any]):
    """DESCRIBE HISTORY: one row per retained commit — version,
    timestamp (commitInfo's when recorded, else the commit file's
    mtime, the same clock time travel uses), operation and its
    parameters (JSON string).  Newest first, like delta's own."""
    import datetime as _dt

    table = p.get("path") or p.get("table") or p.get("input")
    if not table:
        raise ValueError("delta history: 'path' is required")
    log_dir = _log_dir(table)
    commits = _list_commits(log_dir)
    if not commits:
        raise FileNotFoundError(f"delta history: empty _delta_log at {table}")
    rows = []
    for v, path in commits:
        op = None
        params: dict = {}
        ts_ms = int(os.path.getmtime(path) * 1000)
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                act = json.loads(line)
                if "commitInfo" in act:
                    ci = act["commitInfo"]
                    op = ci.get("operation")
                    params = ci.get("operationParameters") or {}
                    if ci.get("timestamp"):
                        ts_ms = int(ci["timestamp"])
                    break  # commitInfo is one-per-commit
        rows.append((
            v,
            _dt.datetime.fromtimestamp(ts_ms / 1000.0, tz=_dt.timezone.utc),
            op,
            json.dumps(params),
        ))
    rows.sort(key=lambda r: -r[0])
    return spark.createDataFrame(
        rows,
        "version long, timestamp timestamp, operation string,"
        " operation_parameters string",
    )
