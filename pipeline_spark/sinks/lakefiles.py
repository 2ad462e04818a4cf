"""Staged data files: one model for both lakehouse formats.

Every Delta and Iceberg operation that adds data ends the same way:
Spark has written parquet files under a directory, and the commit needs
each file's size, row count, hive partition values and per-column null
count, min and max.  :func:`scan` walks that directory and reads each
footer once into a :class:`DataFile`; each format only encodes it —
:func:`to_delta_add` as an ``add`` action with its stats JSON,
:func:`to_iceberg_entry` as a manifest entry with field-id keyed,
Appendix-D serialized bounds.  :meth:`DataFile.from_delta_stats` builds
the model from an add's stats JSON, so a Delta table's Iceberg mirror
goes through the same encoder without reading a footer.

Footers are KB-sized reads: up to :data:`DRIVER_MAX` files are read on
the driver in a small thread pool (pyarrow releases the GIL during
I/O), where an RDD job's fixed cost (~0.1-0.3 s) would dwarf them;
above it one Spark job reads them on the executors.  pyarrow is
imported on first read, so loading this module costs nothing.
"""

from __future__ import annotations

import datetime
import json
import os
import urllib.parse
from dataclasses import dataclass, field

#: footers read on the driver up to this many files, by one job above
DRIVER_MAX = 64


@dataclass
class DataFile:
    """One parquet data file: absolute ``path``, ``size`` in bytes,
    ``rows`` (None when its footer could not be read), the hive
    ``partition`` values of its directory (None for a null value) and,
    per footer column, ``columns[name] = (null_count, min, max)`` —
    each None unless every row group records it exactly."""

    path: str
    size: int
    rows: int | None
    partition: dict = field(default_factory=dict)
    columns: dict = field(default_factory=dict)

    @classmethod
    def from_delta_stats(cls, table: str, add: dict) -> DataFile:
        """The model of a Delta ``add`` from its stats JSON, reading no
        file; ``rows`` is None when the stats record no numRecords."""
        try:
            st = json.loads(add.get("stats") or "{}") or {}
        except (ValueError, TypeError):
            st = {}
        mins, maxs = st.get("minValues") or {}, st.get("maxValues") or {}
        ncs = st.get("nullCount") or {}
        columns = {
            k: (int(ncs[k]) if isinstance(ncs.get(k), (int, float)) else None,
                mins.get(k), maxs.get(k))
            for k in [*ncs, *(k for k in mins if k not in ncs)]
        }
        path = os.path.join(table, urllib.parse.unquote(add["path"]))
        rows = st.get("numRecords")
        return cls(
            path, int(add.get("size") or os.path.getsize(path)),
            None if rows is None else int(rows),
            dict(add.get("partitionValues") or {}), columns,
        )


def _exact(v) -> bool:
    """A usable bound: parquet writers emit binary statistics
    exact-or-absent, but a string of 256+ chars may be a truncated one
    (it would under-cover the file), and raw bytes have no stats shape."""
    return not isinstance(v, bytes) and not (isinstance(v, str) and len(v) >= 256)


def _bounds(stats: list) -> tuple:
    """(min, max) of one column over its row groups, or (None, None)
    unless each has an exact one that pyarrow can read (it reads none
    for a DECIMAL(p<=18) stored as INT32/INT64)."""
    try:
        if all(st is not None and st.has_min_max and _exact(st.min)
               and _exact(st.max) for st in stats):
            return min(st.min for st in stats), max(st.max for st in stats)
    except Exception:
        pass  # only this column goes without bounds
    return None, None


def _footer(path: str) -> tuple[int, dict] | None:
    """(rows, columns) from one parquet footer — no data read — or None
    when it cannot be read (stats are an optimization, never a failure)."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
        per_col: dict[str, list] = {}
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                per_col.setdefault(col.path_in_schema, []).append(col.statistics)
    except Exception:
        return None
    columns = {}
    for name, stats in per_col.items():
        # a statistic counts only when EVERY row group carries it —
        # partial coverage would under-state the file
        nulls = None
        if all(st is not None and st.null_count is not None for st in stats):
            nulls = sum(st.null_count for st in stats)
        columns[name] = (nulls, *_bounds(stats))
    return md.num_rows, columns


def read(found: list[tuple[str, dict]], spark=None) -> list[DataFile]:
    """One :class:`DataFile` per ``(path, partition)``, in order, each
    footer read once (on the driver when no Spark session is active)."""
    paths = [fp for fp, _ in found]
    if len(paths) > DRIVER_MAX and spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if len(paths) > DRIVER_MAX and spark is not None:
        footers = spark.sparkContext.parallelize(
            paths, min(len(paths), 64)
        ).map(_footer).collect()
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(paths)) or 1) as ex:
            footers = list(ex.map(_footer, paths))
    out = []
    for (fp, pv), ft in zip(found, footers):
        rows, columns = ft or (None, {})
        out.append(DataFile(fp, os.path.getsize(fp), rows, dict(pv), columns))
    return out


def walk(root: str) -> list[tuple[str, dict]]:
    """``(path, partition)`` per ``*.parquet`` under ``root`` (directory
    by directory in sorted order, names sorted within each); the
    partition holds the hive ``col=value`` directories above the file
    (``__HIVE_DEFAULT_PARTITION__`` is None, values unquoted)."""
    found: list[tuple[str, dict]] = []
    for d, dirs, names in os.walk(root):
        dirs.sort()  # a filesystem-independent order (v3 row ids follow it)
        part: dict[str, str | None] = {}
        for seg in os.path.relpath(d, root).split(os.sep):
            if "=" in seg:
                k, v = seg.split("=", 1)
                part[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(v)
                )
        found += [
            (os.path.join(d, n), part)
            for n in sorted(names) if n.endswith(".parquet")
        ]
    return found


def scan(root: str, spark=None) -> list[DataFile]:
    """Every parquet file under ``root`` (see :func:`walk`), its footer
    read once."""
    return read(walk(root), spark)


# -- Delta --------------------------------------------------------------------


def _delta_value(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # naive UTC before isoformat (TIMESTAMP_MICROS footers surface as
        # UTC-aware datetimes): a trailing '+00:00' would sort AFTER every
        # suffix-free filter literal and silently prune live files
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v.isoformat() if isinstance(v, datetime.date) else v


def delta_path(path: str, table: str) -> str:
    """PROTOCOL.md: an add's path is URL-encoded and table-relative —
    '%' in an on-disk (hive-escaped) segment must itself escape so the
    reader's unquote restores the real name."""
    rel = os.path.relpath(path, table)
    return urllib.parse.quote(rel.replace(os.sep, "/"), safe="/=")


def to_delta_add(
    f: DataFile, table: str, now_ms: int, data_change: bool = True,
) -> dict:
    """The add action body for ``f``, its partition values those of the
    ``DataFile``; ``stats`` (PROTOCOL.md: numRecords, and per top-level
    column nullCount and the exact minValues/maxValues) is left out when
    the footer was unreadable or a value has no JSON shape."""
    add = {
        "path": delta_path(f.path, table),
        "partitionValues": dict(f.partition),
        "size": f.size,
        "modificationTime": now_ms,
        "dataChange": data_change,
    }
    if f.rows is None:
        return add
    mins, maxs, nulls = {}, {}, {}
    for name, (n, lo, hi) in f.columns.items():
        if "." in name:
            continue  # a nested column
        if n is not None:
            nulls[name] = n
        if lo is not None and hi is not None:
            mins[name], maxs[name] = _delta_value(lo), _delta_value(hi)
    try:
        add["stats"] = json.dumps({
            "numRecords": f.rows, "minValues": mins, "maxValues": maxs,
            "nullCount": nulls,
        })
    except (TypeError, ValueError):
        pass  # a bound with no JSON shape (a Decimal): the add has no stats
    return add


# -- Iceberg ------------------------------------------------------------------


def encode_bound(v, ice_type: str) -> bytes | None:
    """Spec Appendix-D single-value serialization for bound maps."""
    import struct

    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "int":
        return struct.pack("<i", int(v))
    if ice_type == "long":
        return struct.pack("<q", int(v))
    if ice_type == "float":
        return struct.pack("<f", float(v))
    if ice_type == "double":
        return struct.pack("<d", float(v))
    if ice_type == "date":
        days = (
            (v - datetime.date(1970, 1, 1)).days
            if isinstance(v, datetime.date) else int(v)
        )
        return struct.pack("<i", days)
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, datetime.datetime):
            # exact integer micros: float total_seconds() loses
            # microsecond precision past ~±2^53 µs from the epoch
            delta = v - datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            micros = (
                (delta.days * 86_400 + delta.seconds) * 1_000_000
                + delta.microseconds
            )
        else:
            micros = int(v)
        return struct.pack("<q", micros)
    return None  # string/binary/decimal bounds intentionally unwritten


def _iceberg_value(v, ice_type: str):
    """A bound as :func:`encode_bound` takes it: Delta stats carry dates
    and timestamps as ISO strings (a timestamp normalized to naive UTC
    first — dropping a non-UTC offset verbatim would shift the bound)."""
    if isinstance(v, str) and ice_type == "date":
        return datetime.date.fromisoformat(v[:10])
    if isinstance(v, str) and ice_type in ("timestamp", "timestamptz"):
        ts = datetime.datetime.fromisoformat(
            v.replace("Z", "+00:00").replace(" ", "T")
        )
        if ts.tzinfo is not None:
            ts = ts.astimezone(datetime.timezone.utc)
        return ts.replace(tzinfo=None)
    return v


def to_iceberg_entry(
    f: DataFile, snapshot_id: int, seq: int, partition: dict, *,
    colmap: dict[str, tuple[int, str]] | None = None,
    first_row_id: int | None = None, content: int = 0,
    equality_ids: list[int] | None = None,
) -> dict:
    """An ADDED manifest entry for ``f`` under the typed ``partition``
    record: with ``colmap`` (file column name → field id and type) the
    field-id keyed null counts and serialized bounds, with
    ``first_row_id`` a v3 file's row-id base."""
    if f.rows is None:
        raise ValueError(f"iceberg: cannot read the parquet footer of {f.path}")
    d = {
        "content": content, "file_path": f.path, "file_format": "PARQUET",
        "partition": partition, "record_count": f.rows,
        "file_size_in_bytes": f.size,
        "equality_ids": list(equality_ids or []) or None,
    }
    if colmap:
        nulls, lows, highs = [], [], []
        for name, (n, lo, hi) in f.columns.items():
            if name not in colmap:
                continue
            fid, ice_type = colmap[name]
            if n is not None:
                nulls.append({"key": fid, "value": n})
            if lo is None or hi is None:
                continue
            try:
                lo_b, hi_b = (
                    encode_bound(_iceberg_value(v, ice_type), ice_type)
                    for v in (lo, hi)
                )
            except (ValueError, TypeError):
                continue
            if lo_b is not None and hi_b is not None:
                lows.append({"key": fid, "value": lo_b})
                highs.append({"key": fid, "value": hi_b})
        d["null_value_counts"] = nulls or None
        d["lower_bounds"] = lows or None
        d["upper_bounds"] = highs or None
    if first_row_id is not None:
        d["first_row_id"] = first_row_id
    return {
        "status": 1, "snapshot_id": snapshot_id, "sequence_number": seq,
        "file_sequence_number": seq, "data_file": d,
    }


def to_iceberg_entries(
    staged: list[tuple[DataFile, dict]], snapshot_id: int, seq: int,
    schema: dict, lineage_meta: dict | None = None,
) -> list[dict]:
    """ADDED data entries for ``(file, typed partition)`` pairs with the
    stats of ``schema``'s top-level primitive columns; with
    ``lineage_meta`` (a v3 table) each file takes an explicit
    first_row_id range off the table's next-row-id — the same base the
    snapshot's first-row-id takes."""
    colmap = {
        f["name"]: (f["id"], f["type"])
        for f in schema["fields"] if isinstance(f["type"], str)
    }
    frid = int((lineage_meta or {}).get("next-row-id") or 0)
    out = []
    for f, part in staged:
        out.append(to_iceberg_entry(
            f, snapshot_id, seq, part, colmap=colmap,
            first_row_id=frid if lineage_meta is not None else None,
        ))
        frid += f.rows
    return out
