"""Streaming Delta source WITHOUT the delta-spark jar: a Spark 4 Python
DataSource that replays `_delta_log` versions as micro-batch offsets.

Same architecture as sources/kafka_stream.py: Structured Streaming's own
offset log / checkpoint recovery / availableNow draining drive the
native log reader (sources/delta_native.py) —

  initialOffset      "earliest" = the table's CURRENT state as an
                     initial snapshot, then the commit tail (delta's own
                     streaming contract); "latest" = new commits only;
                     an integer startingVersion = commits from there
  latestOffset       driver-side latest_version (one directory listing)
  partitions(s, e)   driver-side: the add actions of versions (s, e] —
                     one InputPartition per data FILE
  read(partition)    EXECUTOR-side: pyarrow reads that one parquet file
                     and fills hive partition columns from the add's
                     partitionValues

Parallelism = files per batch; rows never pass through the driver.
Change commits (removes with dataChange, e.g. overwrite/merge) error
actionably — `skipChangeCommits: true` skips them, `ignoreDeletes:
true` tolerates delete-only commits — exactly the delta-spark options.
Streaming reads need the JSON commits retained for the replay horizon
(same requirement the jar has).
"""

from __future__ import annotations

import datetime as _dt
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


class DeltaNativeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "delta_native"

    def schema(self):
        from pipeline_spark.sources.delta_native import (
            _schema_from_meta,
            replay_log,
        )

        table = self.options.get("path")
        _adds, meta, _proto, _v = replay_log(table)
        return _schema_from_meta(meta)

    def streamReader(self, schema):
        return _DeltaStreamReader(self.options, schema)


class _FilePartition(InputPartition):
    def __init__(
        self, path: str, part_values: list, fields: list, dv_json=None,
        phys_map=None,
    ):
        self.path = path
        #: [(column, raw string value or None), ...] for hive columns
        self.part_values = part_values
        #: [(name, typeName), ...] in output order
        self.fields = fields
        #: deletionVector descriptor (JSON string) | None
        self.dv_json = dv_json
        #: {logical: (physical, rename spec)} on column-mapped tables
        self.phys_map = phys_map or {}


def _rename_spec(node):
    """From a Delta schema-JSON *type* node: a pickleable rename spec for
    column-mapped values, or None when nothing below needs renaming.
    Struct specs map PHYSICAL child name → (logical name, child spec)."""
    if not isinstance(node, dict):
        return None
    t = node.get("type")
    if t == "struct":
        fields = {}
        any_rename = False
        for f in node["fields"]:
            phys = (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
            sub = _rename_spec(f["type"])
            if phys != f["name"] or sub:
                any_rename = True
            fields[phys] = (f["name"], sub)
        return ("struct", fields) if any_rename else None
    if t == "array":
        sub = _rename_spec(node["elementType"])
        return ("array", sub) if sub else None
    if t == "map":
        sub = _rename_spec(node["valueType"])
        return ("map", sub) if sub else None
    return None


def _apply_rename(value, spec):
    """Rename a pyarrow-materialized value (dict/list) from physical to
    logical field names per its _rename_spec."""
    if value is None or spec is None:
        return value
    kind = spec[0]
    if kind == "struct":
        return {
            logical: _apply_rename(value.get(phys), sub)
            for phys, (logical, sub) in spec[1].items()
        }
    if kind == "array":
        return [_apply_rename(v, spec[1]) for v in value]
    return {k: _apply_rename(v, spec[1]) for k, v in value.items()}  # map


def _field_phys_map(meta: dict) -> dict:
    """{logical top-level name: (physical name, nested rename spec)} for a
    column-mapped table's schema; empty when the table is unmapped."""
    if (meta.get("configuration") or {}).get("delta.columnMapping.mode") in (
        None, "", "none",
    ):
        return {}
    sj = json.loads(meta["schemaString"])
    out = {}
    for f in sj.get("fields", []):
        phys = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        out[f["name"]] = (phys, _rename_spec(f["type"]))
    return out


def _convert_part(value: str | None, type_name: str):
    if value is None:
        return None
    t = type_name.lower()
    if t in ("int", "integer", "long", "bigint", "short", "byte"):
        return int(value)
    if t in ("double", "float"):
        return float(value)
    if t == "boolean":
        return value.lower() == "true"
    if t == "date":
        return _dt.date.fromisoformat(value)
    if t.startswith("timestamp"):
        return _dt.datetime.fromisoformat(value)
    return value


def _live_file_rows(table: str, partition):
    """``(physical row, logical tuple)`` for each live row of one
    partition's data file, read on an executor: the rows its deletion
    vector removed are skipped (emitting them would resurrect deleted
    data), column-mapped values are renamed to their logical names and
    hive partition columns filled from the add's partitionValues."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(partition.path)
    cols = set(tbl.schema.names)
    types = dict(partition.fields)
    part_map = dict(partition.part_values)
    deleted = set()
    if partition.dv_json:
        from pipeline_spark.functions.deltadv import load_dv_positions

        deleted = {
            int(x)
            for x in load_dv_positions(table, json.loads(partition.dv_json))
        }
    pm = partition.phys_map
    for idx, row in enumerate(tbl.to_pylist()):
        if idx in deleted:
            continue
        out = []
        for name, _t in partition.fields:
            phys, spec = pm.get(name, (name, None))
            if phys in cols:
                out.append(_apply_rename(row.get(phys), spec))
            else:
                out.append(_convert_part(part_map.get(name), types[name]))
        yield row, tuple(out)


class _DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        self.table = options.get("path")
        if not self.table:
            raise ValueError("delta_native stream needs a 'path' option")
        self.starting = str(options.get("startingversion", "earliest")).lower()
        self.skip_change = str(options.get("skipchangecommits", "")).lower() == "true"
        self.ignore_deletes = str(options.get("ignoredeletes", "")).lower() == "true"
        self.schema_fields = [(f.name, f.dataType.typeName()) for f in schema.fields]
        from pipeline_spark.sources.delta_native import replay_log

        _adds, meta, _proto, _v = replay_log(self.table)
        # column-mapped tables: files + partitionValues use PHYSICAL
        # names; the per-row reader renames through this spec
        self.phys_map = _field_phys_map(meta)
        self.part_cols = list(meta.get("partitionColumns") or [])

    def _latest(self) -> int:
        from pipeline_spark.sources.delta_native import _log_dir, latest_version

        v = latest_version(_log_dir(self.table))
        if v is None:
            raise FileNotFoundError(f"delta: empty _delta_log at {self.table}")
        return v

    def initialOffset(self) -> dict:
        latest = self._latest()
        if self.starting == "latest":
            return {"version": latest}
        if self.starting == "earliest":
            # deliver the current table state as the initial snapshot,
            # then follow the commit tail
            return {"version": latest, "snapshot_pending": True}
        return {"version": int(self.starting) - 1}

    def latestOffset(self) -> dict:
        return {"version": self._latest()}

    def _commit_adds(self, version: int) -> list[dict]:
        from pipeline_spark.sources.delta_native import _log_dir

        path = os.path.join(_log_dir(self.table), f"{version:020d}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"delta: commit {version} missing from {self.table}/_delta_log"
                " — streaming needs the JSON tail retained (vacuumed log?)"
            )
        adds, removes_changed = [], False
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action and action["add"].get("dataChange", True):
                    adds.append(action["add"])
                elif "remove" in action and action["remove"].get("dataChange", True):
                    removes_changed = True
        if removes_changed:
            if self.skip_change:
                return []
            if self.ignore_deletes and not adds:
                return []
            raise ValueError(
                f"delta: version {version} changes existing data (remove "
                "actions with dataChange) — a streaming read would be "
                "incorrect; set skipChangeCommits: true to skip such "
                "commits, or ignoreDeletes: true for delete-only commits"
            )
        return adds

    def partitions(self, start: dict, end: dict):
        import urllib.parse

        from pipeline_spark.sources.delta_native import replay_log

        adds: list[dict] = []
        if start.get("snapshot_pending"):
            snap_adds, _m, _p, _v = replay_log(self.table, int(start["version"]))
            adds.extend(snap_adds)
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            adds.extend(self._commit_adds(v))
        out = []
        for a in adds:
            pv = a.get("partitionValues") or {}

            def phys(c):
                return self.phys_map.get(c, (c, None))[0]

            out.append(_FilePartition(
                os.path.join(self.table, urllib.parse.unquote(a["path"])),
                [(c, pv.get(phys(c))) for c in self.part_cols],
                self.schema_fields,
                json.dumps(a["deletionVector"])
                if a.get("deletionVector") else None,
                self.phys_map,
            ))
        return out

    def read(self, partition: _FilePartition):
        for _row, out in _live_file_rows(self.table, partition):
            yield out

    def commit(self, end: dict) -> None:
        pass  # Spark's offset log is the source of truth


def read_delta_stream_native(spark, p: dict):
    """readStream DataFrame over the native log replay; registration is
    idempotent per session."""
    try:
        spark.dataSource.register(DeltaNativeDataSource)
    except Exception as exc:
        if "already" not in str(exc).lower():
            raise
    table = p.get("path") or p.get("table") or p.get("input")
    if not table:
        raise ValueError("delta source: 'path' is required")
    reader = spark.readStream.format("delta_native").option("path", str(table))
    for key in ("startingVersion", "skipChangeCommits", "ignoreDeletes"):
        if p.get(key) is not None:
            reader = reader.option(key, str(p[key]))
    return reader.load()


class DeltaCdfDataSource(DataSource):
    """Streaming Change Data Feed: each micro-batch emits the cdc rows of
    newly-committed versions (insert/delete derivation included) — the
    production CDF consumption shape (delta's readChangeFeed streaming).
    Output schema = table columns + _change_type / _commit_version /
    _commit_timestamp."""

    @classmethod
    def name(cls) -> str:
        return "delta_cdf_native"

    def schema(self):
        from pyspark.sql.types import StructType

        from pipeline_spark.sources.delta_native import (
            _schema_from_meta,
            replay_log,
        )

        table = self.options.get("path")
        _adds, meta, _proto, _v = replay_log(table)
        schema = _schema_from_meta(meta)
        return (
            StructType([*schema.fields])
            .add("_change_type", "string")
            .add("_commit_version", "long")
            .add("_commit_timestamp", "timestamp")
        )

    def streamReader(self, schema):
        return _DeltaCdfStreamReader(self.options, schema)


class _CdfFilePartition(_FilePartition):
    def __init__(
        self, path, kind, version, ts_ms, fields, part_values, dv_json,
        phys_map=None,
    ):
        super().__init__(path, part_values, fields, dv_json, phys_map)
        #: "cdc" (file carries _change_type) | "insert" | "delete"
        self.kind = kind
        self.version = version
        self.ts_ms = ts_ms


class _DeltaCdfStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        self.table = options.get("path")
        if not self.table:
            raise ValueError("delta_cdf_native stream needs a 'path' option")
        self.starting = str(options.get("startingversion", "latest")).lower()
        # DATA columns = output schema minus the three CDF columns
        self.data_fields = [
            (f.name, f.dataType.typeName())
            for f in schema.fields
            if f.name not in (
                "_change_type", "_commit_version", "_commit_timestamp",
            )
        ]
        from pipeline_spark.sources.delta_native import replay_log

        _a, meta, _p, _v = replay_log(self.table)
        if (meta.get("configuration") or {}).get(
            "delta.enableChangeDataFeed", ""
        ).lower() != "true":
            raise ValueError(
                "delta cdf stream: table does not set "
                "delta.enableChangeDataFeed=true"
            )
        self.phys_map = _field_phys_map(meta)
        self.part_cols = list(meta.get("partitionColumns") or [])

    def _latest(self) -> int:
        from pipeline_spark.sources.delta_native import _log_dir, latest_version

        v = latest_version(_log_dir(self.table))
        if v is None:
            raise FileNotFoundError(f"delta: empty _delta_log at {self.table}")
        return v

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            return {"version": self._latest()}
        if self.starting == "earliest":
            return {"version": -1}
        return {"version": int(self.starting) - 1}

    def latestOffset(self) -> dict:
        return {"version": self._latest()}

    def partitions(self, start: dict, end: dict):
        import urllib.parse

        from pipeline_spark.sources.delta_native import _log_dir, replay_state

        out = []
        log_dir = _log_dir(self.table)
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            commit = os.path.join(log_dir, f"{v:020d}.json")
            if not os.path.exists(commit):
                raise FileNotFoundError(
                    f"delta cdf stream: commit {v} missing from the log — "
                    "the change feed needs the JSON history retained"
                )
            ts_ms = int(os.path.getmtime(commit) * 1000)
            cdc, adds, removes = [], [], []
            with open(commit) as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    action = json.loads(line)
                    if "cdc" in action:
                        cdc.append(action["cdc"])
                    elif "add" in action and action["add"].get(
                        "dataChange", True
                    ):
                        adds.append(action["add"])
                    elif "remove" in action and action["remove"].get(
                        "dataChange", True
                    ):
                        removes.append(action["remove"])
                    elif "commitInfo" in action and action["commitInfo"].get(
                        "timestamp"
                    ):
                        ts_ms = int(action["commitInfo"]["timestamp"])

            def mk(act, kind, dv=None):
                pv = act.get("partitionValues") or {}

                def phys(c):
                    return self.phys_map.get(c, (c, None))[0]

                return _CdfFilePartition(
                    os.path.join(
                        self.table, urllib.parse.unquote(act["path"])
                    ),
                    kind, v, ts_ms, self.data_fields,
                    [(c, pv.get(phys(c))) for c in self.part_cols],
                    json.dumps(dv) if dv else None,
                    self.phys_map,
                )

            if cdc:
                out.extend(mk(c, "cdc") for c in cdc)
                continue
            out.extend(mk(a, "insert", a.get("deletionVector")) for a in adds)
            if removes:
                prior, _m, _p, _pv2, _t = replay_state(self.table, v - 1)
                prior_by_path = {a["path"]: a for a in prior}
                for r in removes:
                    a = prior_by_path.get(r["path"], r)
                    out.append(mk(a, "delete", a.get("deletionVector")))
        return out

    def read(self, partition: _CdfFilePartition):
        import datetime as _dt2

        # tz-AWARE UTC: the DataSource row serializer converts naive
        # datetimes through the MACHINE-local zone (time.mktime), which
        # both differs from the batch reader's timestamp_millis instant
        # and varies by host; an aware datetime is an exact instant
        ts = _dt2.datetime.fromtimestamp(
            partition.ts_ms / 1000.0, tz=_dt2.timezone.utc
        )
        for row, out in _live_file_rows(self.table, partition):
            ctype = row.get("_change_type", partition.kind)
            yield out + (ctype, partition.version, ts)

    def commit(self, end: dict) -> None:
        pass


def read_delta_cdf_stream_native(spark, p: dict):
    """readStream DataFrame over the change feed; registration is
    idempotent per session."""
    try:
        spark.dataSource.register(DeltaCdfDataSource)
    except Exception as exc:
        if "already" not in str(exc).lower():
            raise
    table = p.get("path") or p.get("table") or p.get("input")
    if not table:
        raise ValueError("delta cdf source: 'path' is required")
    reader = spark.readStream.format("delta_cdf_native").option(
        "path", str(table)
    )
    if p.get("startingVersion") is not None:
        reader = reader.option("startingVersion", str(p["startingVersion"]))
    return reader.load()
