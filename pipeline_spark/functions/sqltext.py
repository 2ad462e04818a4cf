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

import math
import re

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
    same value AND same literal type, or raise ValueError for types the
    caller should build via the Column API instead."""
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
        if not math.isfinite(v):
            raise ValueError(f"sql_lit: non-finite double: {v}")
        # repr round-trips doubles exactly; D keeps DoubleType (a bare
        # decimal would parse as DECIMAL)
        return repr(v) + "D"
    if isinstance(v, str):
        return sql_str(v)
    raise ValueError(f"sql_lit: unsupported literal type {type(v).__name__}")


# '\\+' in SQL-literal escaping is the two-character regex \+ .
def fp_norm_sql(src: str) -> str:
    """``_metadata.file_path`` (a URI: scheme + percent-encoding) → the
    raw filesystem path driver-side code uses, as in stamp_lineage,
    _apply_row_deletes, apply_identity_fill and the delta reader's
    __dv_fp.  A hive partition value with a space arrives as %20 — an
    undecoded comparison silently misses the file and deleted rows
    resurrect.  ``url_decode`` form-decodes '+' as space, so a literal
    '+' is escaped to %2B first; the URI encoder escapes '%' itself, so
    every remaining %XX is a valid escape."""
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
