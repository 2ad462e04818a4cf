"""SQL-text twins of hot Column constructions (r16, guide §1.2/§7.3).

Every Column operator built through the Python API costs one
driver->JVM py4j round-trip; the metadata-heavy delta/iceberg read and
mutate paths were building hundreds of Columns per commit, and at this
host's ~1 ms socket RTT that chatter — not Spark jobs — dominated the
DML rows' wall clock.  These helpers spell the SAME expressions as SQL
text so one selectExpr/expr call ships the whole tree; the analyzed
plans are identical (pinned by tests/test_sqltext.py), only the
construction path changes.
"""

from __future__ import annotations

import datetime as _dt
import math
import re

from pyspark.sql import types as _T

_SIMPLE_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def qi(name: str) -> str:
    """Backtick-quote an identifier (doubling embedded backticks)."""
    return "`" + str(name).replace("`", "``") + "`"


def col_ref(name: str) -> str:
    """The SQL spelling of ``F.col(name)``: unquoted dots navigate struct
    fields; a name already in backtick syntax passes through."""
    if "`" in name:
        return name
    return ".".join(qi(part) for part in name.split("."))


def sql_str(s: str) -> str:
    """A Spark SQL string literal (default lexer: backslash escapes)."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_lit(v):
    """Spell a Python scalar as the SQL literal F.lit would produce:
    same value AND same literal type (non-finite doubles and instants
    fold to it: a CAST or ``timestamp_micros`` call over a literal), or
    raise ValueError for values with no exact spelling."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        # int32-range ints are IntegerType literals either way; wider
        # ones BIGINT either way.  Python ints beyond int64 would
        # overflow both paths identically — refuse instead.
        if -(2**63) <= v < 2**63:
            return str(v)
        raise ValueError(f"sql_lit: int out of BIGINT range: {v}")
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return "CAST('Infinity' AS DOUBLE)" if v > 0 else (
                "CAST('-Infinity' AS DOUBLE)"
            )
        # repr round-trips doubles exactly; D keeps DoubleType (a bare
        # decimal would parse as DECIMAL)
        return repr(v) + "D"
    if isinstance(v, str):
        return sql_str(v)
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex() + "'"
    if isinstance(v, _dt.datetime):
        # F.lit ships a java.sql.Timestamp, which the JVM rebases through
        # its zone's historical rules: before 1900 (local mean time) that
        # instant can differ from the epoch micros below — refuse
        if v.year < 1900:
            raise ValueError(f"sql_lit: datetime before 1900: {v}")
        if v.tzinfo is None:
            from pyspark.sql.utils import is_timestamp_ntz_preferred

            if is_timestamp_ntz_preferred():
                return f"TIMESTAMP_NTZ'{v.isoformat(sep=' ')}'"
        # the epoch micros createDataFrame and F.lit both compute (a
        # naive value reads in the SYSTEM zone, as theirs do)
        return f"timestamp_micros({_T.TimestampType().toInternal(v)})"
    if isinstance(v, _dt.date):
        return f"DATE'{v.isoformat()}'"
    raise ValueError(f"sql_lit: unsupported literal type {type(v).__name__}")


# '\\+' in SQL-literal escaping is the two-character regex \+ .
def fp_norm_sql(src: str) -> str:
    """``_metadata.file_path`` (a URI: scheme + percent-encoding) → the
    raw filesystem path driver-side code uses: the ``__fp__`` both
    formats' ``live_rows`` stamp.  A hive partition value with a space
    arrives as %20 — an undecoded comparison silently misses the file
    and deleted rows resurrect.  ``url_decode`` form-decodes '+' as
    space, so a literal '+' is escaped to %2B first; the URI encoder
    escapes '%' itself, so every remaining %XX is a valid escape."""
    return (
        "url_decode(regexp_replace(regexp_replace("
        f"{src}, '^file:/+', '/'), '\\\\+', '%2B'))"
    )


def scheme_strip_sql(src: str) -> str:
    """Scheme-strip a STORED path column (delete-file contents, DV
    references), the column-side :func:`norm_path` of the iceberg
    reader: no percent-decode — stored paths are literal, only
    ``_metadata``-derived ones are URI-encoded."""
    return f"regexp_replace({src}, '^file:/+', '/')"


def atomic_ddl(dt) -> str | None:
    """``dt.simpleString()`` when it is guaranteed to parse back to the
    same type (atomic types only — a nested struct's simpleString does
    not quote field names, so a physical name with a dash would
    mis-parse); None means the caller must cast via the Column API."""
    from pyspark.sql import types as T

    if isinstance(
        dt,
        (
            T.StringType, T.BooleanType, T.DateType, T.TimestampType,
            T.TimestampNTZType, T.BinaryType, T.ByteType, T.ShortType,
            T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
            T.DecimalType,
        ),
    ):
        return dt.simpleString()
    return None
