"""Iceberg partition transforms (spec §Partitioning) for the native writer.

Transforms: identity, bucket[N], truncate[W], year, month, day, hour —
the full v2 transform set minus void.  Time transforms are ordinal
offsets from the 1970 epoch (year → years, month → months, day → days,
hour → hours); bucket is ``(murmur3_x86_32(encode(v)) & Int.MaxValue) %
N`` with the spec's type encodings (ints/longs/dates/timestamps as
8-byte little-endian longs, strings as UTF-8, binary raw); truncate is
``v - (((v % W) + W) % W)`` for integers and a prefix for strings.

murmur3_x86_32 is implemented from the public reference algorithm and
pinned to its canonical test vectors plus the Iceberg spec's appendix
examples in tests/test_icebergpart.py.

Everything here is executor-friendly: transform columns are Spark
Columns except bucket, which is a vectorized pandas UDF around the hash
(rows are encoded and hashed per Arrow batch — write-path-only cost).
"""

from __future__ import annotations

import re
import struct
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 (public domain reference algorithm), unsigned."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounds = n // 4
    for i in range(rounds):
        k = struct.unpack_from("<I", data, i * 4)[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[rounds * 4 :]
    k = 0
    if len(tail) == 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_hash_long(v: int) -> int:
    """Iceberg hash for int/long/date/time/timestamp: murmur3 of the
    8-byte little-endian two's-complement long."""
    return murmur3_32(struct.pack("<q", int(v)))


def bucket_hash_str(v: str) -> int:
    return murmur3_32(v.encode("utf-8"))


def bucket_np(s: "pd.Series", n: int) -> "pd.Series":
    """Vectorized Iceberg long bucket for a whole Arrow batch:
    ``(murmur3_x86_32(little_endian_8_bytes(v)) & Int.MaxValue) % n``
    in numpy uint32 arithmetic (wrap-around multiplication is native),
    no per-row Python.  Agrees bit-for-bit with ``iceberg_bucket(v, n,
    "long")`` — pinned in tests/test_icebergpart.py — including the
    float64 arrival shape pandas uses for nullable long batches (the
    float->int64 cast truncates exactly like the scalar ``int(v)``)."""
    mask = s.isna()
    v = s.fillna(0).to_numpy(dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        k1 = (v & np.uint64(0xFFFFFFFF)).astype(np.uint32)
        k2 = (v >> np.uint64(32)).astype(np.uint32)
        h = np.zeros(len(v), np.uint32)
        for k in (k1, k2):
            k = k * np.uint32(0xCC9E2D51)
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * np.uint32(0x1B873593)
            h = h ^ k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h = h ^ np.uint32(8)  # len(data) == 8, empty tail
        h = h ^ (h >> np.uint32(16))
        h = h * np.uint32(0x85EBCA6B)
        h = h ^ (h >> np.uint32(13))
        h = h * np.uint32(0xC2B2AE35)
        h = h ^ (h >> np.uint32(16))
        b = ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype("int32")
    out = pd.Series(b).astype("Int32")
    if mask.any():
        out[mask.to_numpy()] = None
    return out


def iceberg_bucket(v, n: int, kind: str):
    if v is None:
        return None
    if kind == "long":
        h = bucket_hash_long(v)
    elif kind == "string":
        h = bucket_hash_str(v)
    elif kind == "binary":
        h = murmur3_32(bytes(v))
    else:
        raise ValueError(f"iceberg bucket: unsupported source kind '{kind}'")
    return (h & 0x7FFFFFFF) % n


# ---------------------------------------------------------------------------
# partition spec parsing + column builders
# ---------------------------------------------------------------------------

_FN_RE = re.compile(r"^(\w+)\s*\(\s*(?:(\d+)\s*,\s*)?([\w.]+)\s*\)$")


def parse_partition_spec(p: dict[str, Any]) -> list[dict[str, Any]]:
    """Normalize config to [{transform, source, param, name}].

    Accepts ``partitionBy: ["col", "bucket(8, col)", "day(ts)", ...]``
    or ``partitionSpec: [{field/sourceField, transform, name?}]``."""
    out: list[dict[str, Any]] = []
    raw = p.get("partitionSpec")
    if raw:
        for ent in raw:
            tr = str(ent.get("transform", "identity")).lower()
            m = re.match(r"^(\w+)(?:\[(\d+)\])?$", tr)
            if not m:
                raise ValueError(f"iceberg: bad transform '{tr}'")
            out.append(
                {
                    "transform": m.group(1),
                    "param": int(m.group(2)) if m.group(2) else None,
                    "source": ent.get("field") or ent.get("sourceField"),
                    "name": ent.get("name"),
                }
            )
    else:
        for ent in p.get("partitionBy") or []:
            ent = str(ent).strip()
            m = _FN_RE.match(ent)
            if m:
                out.append(
                    {
                        "transform": m.group(1).lower(),
                        "param": int(m.group(2)) if m.group(2) else None,
                        "source": m.group(3),
                        "name": None,
                    }
                )
            else:
                out.append(
                    {"transform": "identity", "param": None, "source": ent,
                     "name": None}
                )
    for f in out:
        if not f["source"]:
            raise ValueError("iceberg partition field needs a source column")
        tr = f["transform"]
        if tr not in ("identity", "bucket", "truncate", "year", "month",
                      "day", "hour"):
            raise ValueError(f"iceberg: unsupported transform '{tr}'")
        if tr in ("bucket", "truncate") and not f["param"]:
            raise ValueError(f"iceberg: {tr} needs a parameter (e.g. {tr}(8, col))")
        if f["name"] is None:
            # Iceberg's own default field names: col, col_bucket, col_trunc,
            # col_year / col_month / col_day / col_hour
            suffix = {"truncate": "trunc"}.get(tr, tr)
            f["name"] = (
                f["source"] if tr == "identity" else f"{f['source']}_{suffix}"
            )
    return out


def _source_kind(dtype) -> str:
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "long"
    if isinstance(dtype, T.DateType):
        return "date"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.BinaryType):
        return "binary"
    raise ValueError(f"iceberg partition transform on unsupported type {dtype}")


def _ntz_micros(src: Column) -> Column:
    """Exact epoch micros of an NTZ wall clock treated as UTC — rendered
    with an explicit +00:00 offset so the session timezone never leaks."""
    return F.unix_micros(
        F.to_timestamp(
            F.concat(
                F.date_format(src, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
                F.lit("+00:00"),
            ),
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
        )
    )


def _utc_date(src: Column, dtype) -> Column:
    """A tz-free DATE column for calendar transforms.

    The Iceberg spec defines time transforms on UTC micros for
    timestamp-with-zone; Spark's F.year / cast("date") would decompose
    in the SESSION timezone, so a non-UTC session would write partition
    values a spec-compliant engine computes differently.  Derive the
    UTC calendar day from exact epoch micros instead.  DATE and
    timestamp-WITHOUT-zone columns are already wall-clock/tz-free, so
    their calendar fields are used directly."""
    if isinstance(dtype, T.TimestampType):
        days = F.floor(F.unix_micros(src) / F.lit(86_400_000_000)).cast("int")
        return F.date_add(F.to_date(F.lit("1970-01-01")), days)
    if isinstance(dtype, T.TimestampNTZType):
        return src.cast("date")
    return src  # DateType


def transform_column(field: dict[str, Any], dtype) -> tuple[Column, str]:
    """(transform Column, result kind) — result kind ∈ int/long/string.

    Time transforms follow the spec's epoch ordinals (UTC for
    timestamp-with-zone); bucket hashes with the spec encodings inside a
    vectorized pandas UDF."""
    src = F.col(field["source"])
    tr = field["transform"]
    kind = _source_kind(dtype)
    if tr == "identity":
        if kind in ("date", "timestamp", "binary"):
            # dirs need stable lexical values; keep identity on time and
            # binary columns as strings in the dir name and parse back
            return src.cast("string"), "string"
        return src, {"long": "long", "string": "string"}[kind]
    if tr == "year":
        d = _utc_date(src, dtype)
        return (F.year(d) - F.lit(1970)).cast("int"), "int"
    if tr == "month":
        d = _utc_date(src, dtype)
        return (
            (F.year(d) - F.lit(1970)) * 12 + F.month(d) - F.lit(1)
        ).cast("int"), "int"
    if tr == "day":
        d = _utc_date(src, dtype)
        return F.datediff(d, F.to_date(F.lit("1970-01-01"))).cast("int"), "int"
    if tr == "hour":
        if kind != "timestamp":
            raise ValueError("iceberg: hour() needs a timestamp column")
        micros = (
            F.unix_micros(src)
            if isinstance(dtype, T.TimestampType)
            else _ntz_micros(src)
        )
        return F.floor(micros / F.lit(3_600_000_000)).cast("int"), "int"
    if tr == "truncate":
        w = field["param"]
        if kind == "long":
            return (src - ((src % w) + w) % w).cast("long"), "long"
        if kind == "string":
            return F.substring(src, 1, w), "string"
        raise ValueError("iceberg: truncate() supports int/long/string")
    if tr == "bucket":
        n = field["param"]
        if kind in ("long", "date", "timestamp"):
            @F.pandas_udf("int")
            def _b(s: pd.Series) -> pd.Series:
                return bucket_np(s, n)

            if kind == "long":
                col = src.cast("long")
            elif kind == "date":
                col = F.datediff(
                    src, F.to_date(F.lit("1970-01-01"))
                ).cast("long")
            else:
                # spec: timestamps hash as EXACT microseconds from
                # epoch — a double round-trip (cast("double") * 1e6) is
                # off by one micro for ~1% of values and would bucket
                # rows wrongly
                col = (
                    F.unix_micros(src)
                    if isinstance(dtype, T.TimestampType)
                    else _ntz_micros(src)
                )
            return _b(col), "int"
        if kind == "string":
            @F.pandas_udf("int")
            def _bs(s: pd.Series) -> pd.Series:
                return s.map(
                    lambda v: None if v is None else iceberg_bucket(v, n, "string")
                ).astype("Int32")

            return _bs(src), "int"
        if kind == "binary":
            @F.pandas_udf("int")
            def _bb(s: pd.Series) -> pd.Series:
                return s.map(
                    lambda v: None if v is None else iceberg_bucket(v, n, "binary")
                ).astype("Int32")

            return _bb(src), "int"
    raise ValueError(f"iceberg: unsupported transform '{tr}'")


def parse_dir_value(raw: str | None, kind: str):
    """Type a hive-style ``name=value`` dir value, already unquoted
    (``sinks/lakefiles.walk``; None for ``__HIVE_DEFAULT_PARTITION__``)."""
    if raw is not None and kind in ("int", "long"):
        return int(raw)
    return raw


def spec_field_avro_type(transform: str, source_type: str) -> str:
    """Avro value type of a partition field reconstructed from TABLE
    METADATA alone (spec-JSON transform string + current-schema source
    type) — for commits that must emit spec-0-shaped manifests without a
    DataFrame to re-derive the transform from (e.g. delete-file
    appends).  Mirrors transform_column's result kinds exactly."""
    if transform.startswith("bucket") or transform in (
        "year", "month", "day", "hour",
    ):
        return "int"
    if transform.startswith("truncate"):
        return "string" if source_type == "string" else "long"
    # identity: ints partition as long, strings as string, time/binary
    # columns as their lexical dir rendering (string)
    if source_type in ("int", "long"):
        return "long"
    return "string"


def spec_transform_str(field: dict[str, Any]) -> str:
    tr = field["transform"]
    if tr == "bucket":
        return f"bucket[{field['param']}]"
    if tr == "truncate":
        return f"truncate[{field['param']}]"
    return tr
