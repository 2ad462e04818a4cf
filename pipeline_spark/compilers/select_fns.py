"""Select-function list → SQL projection compiler.

The reference's projection engine is an ordered list of select functions;
each function's output is visible to later functions (sequential name
binding) and the output schema is exactly the list of non-ignored function
outputs (reference: util/pipeline/select/SelectFunction.java:64-87 binding,
165-193 schema, 213-234 apply; docs/config/module/common/select.md).

Func inference when ``func`` is omitted mirrors
SelectFunction.java:96-127: only {name} → pass; field+type → cast;
field → rename; value+type → constant; type → cast; expression / text /
fields → those funcs.

Each function compiles to Spark SQL text, so a stateless list ships in one
``selectExpr``; an output with no SQL spelling (a Python UDF, the
string-backed decimal cast, a per-element ``each`` struct) is projected
under a hidden name first.  Stateful variants (range aggregates, lag)
compile to Window functions — see stateful.py.

pandas is imported only inside the two pandas-UDF builders, so planning a
pipeline that uses neither does not import it.  This file evaluates its
annotations eagerly (no ``from __future__ import annotations``): the UDFs'
``pd.Series`` hints must resolve against that local import when
``pandas_udf`` reads them.
"""

import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline_spark.compilers.expression import compile_expression, schema_resolver
from pipeline_spark.functions.sqltext import atomic_ddl, col_ref, qi, sql_lit

# config type vocabulary → Spark types (reference: Schema.java:1107-1160,
# SURVEY §1.2 type lattice)
TYPE_MAP: dict[str, T.DataType] = {
    "bool": T.BooleanType(), "boolean": T.BooleanType(),
    "string": T.StringType(), "char": T.StringType(), "json": T.StringType(),
    "bytes": T.BinaryType(), "blob": T.BinaryType(),
    "int8": T.ByteType(), "byte": T.ByteType(),
    "int16": T.ShortType(), "short": T.ShortType(),
    "int32": T.IntegerType(), "int": T.IntegerType(), "integer": T.IntegerType(),
    "int64": T.LongType(), "long": T.LongType(),
    "float8": T.FloatType(), "float16": T.FloatType(),
    "float32": T.FloatType(), "float": T.FloatType(),
    "float64": T.DoubleType(), "double": T.DoubleType(),
    "decimal": T.DecimalType(38, 9), "numeric": T.DecimalType(38, 9),
    # "BIGDECIMAL" decimal(76,38) (Schema.java:496-497,724-731) exceeds
    # Spark's decimal cap (38): STRING-BACKED — values travel as
    # canonical plain-notation decimal strings (SURVEY §1.2 / §7.3 #4);
    # _cast_bigdecimal below supplies the cast semantics
    "bigdecimal": T.StringType(),
    "date": T.DateType(),
    "time": T.LongType(),  # micros-of-day convention (Schema.java:1171)
    "datetime": T.TimestampType(), "timestamp": T.TimestampType(),
    "geography": T.StringType(),
}


def spark_type(name: str) -> T.DataType:
    key = name.strip().lower()
    if key.startswith("array<") and key.endswith(">"):
        return T.ArrayType(spark_type(key[6:-1]))
    m = re.match(r"(?:decimal|numeric)\((\d+)\s*,\s*(\d+)\)$", key)
    if m:
        p, s = int(m.group(1)), int(m.group(2))
        if p > 38:
            # beyond Spark's DecimalType cap — string-backed, like
            # the BIGDECIMAL alias
            return T.StringType()
        return T.DecimalType(p, s)
    if key not in TYPE_MAP:
        raise ValueError(f"unknown type '{name}'")
    return TYPE_MAP[key]


def _is_bigdecimal(name: str) -> bool:
    key = str(name).strip().lower()
    if key == "bigdecimal":
        return True
    m = re.match(r"(?:decimal|numeric)\((\d+)\s*,\s*(\d+)\)$", key)
    return bool(m) and int(m.group(1)) > 38


def _bd_canon(c: Column) -> Column:
    """Canonical plain-notation shape (r12): '+' sign dropped, '.5' ->
    '0.5', redundant leading zeros stripped (one kept before the dot),
    trailing fractional zeros and a bare trailing dot removed — so equal
    values from DIFFERENT source types (string '1.50', double 1.5,
    decimal(10,2) 1.50) render as the SAME string and joins/group-bys on
    bigdecimal columns match.  Pure string surgery: precision-preserving
    at any digit count."""
    c = F.regexp_replace(c, r"^\+", "")
    c = F.regexp_replace(c, r"^(-?)\.", "$10.")
    c = F.regexp_replace(c, r"^(-?)0+(?=\d)", "$1")
    c = F.regexp_replace(c, r"^(-?\d+\.\d*?)0+$", "$1")
    c = F.regexp_replace(c, r"\.$", "")
    # -0 family collapses to 0
    return F.regexp_replace(c, r"^-(0(\.0*)?)$", "$1")


def _cast_bigdecimal(src: Column, df) -> Column:
    """Cast semantics for string-backed big decimals (decimal(76,38) /
    "BIGDECIMAL"):

    - string sources pass through TRIMMED when they parse as a decimal
      literal (optional sign / fraction / exponent — a full 76-digit
      literal survives intact, no Spark numeric type could hold it);
      non-numeric strings yield NULL like every other Spark numeric
      cast (and BigDecimal's parse, which rejects garbage);
    - integral / decimal / date / boolean sources cast straight to
      string (Spark renders all of them plain, never scientific);
    - float/double render through decimal(38,18) while |x| < 1e20 and
      decimal(38,0) up to 1e38; decimal(76,38) itself holds only 38
      integer digits, so anything >= 1e38 is outside the TYPE's domain
      and yields null instead of an ANSI runtime error (a double
      carries ~17 significant digits — the tiers lose nothing real).

    Source typing resolves through ``df.select(src)`` so columns bound
    EARLIER IN THE SAME SELECT LIST (renames, computed fields) classify
    correctly, not just physical df columns.  Casting back OUT of a
    bigdecimal is a plain string cast ("1.5".cast(double)), native."""
    dt = None
    if df is not None:
        try:
            dt = df.select(src).schema[0].dataType
        except Exception:
            dt = None
    if isinstance(dt, T.StringType):
        # trim ALL whitespace (Spark's numeric cast trimAll semantics —
        # F.trim strips spaces only, so '42\n' must still parse) and
        # anchor with \A/\z: Java's $ matches BEFORE a final newline,
        # which would validate a string that still embeds one.  Plain
        # literals canonicalize by string surgery (full 76-digit
        # precision kept); EXPONENT literals expand through the
        # decimal(38,18)/(38,0) tiers — plain notation at up to 38
        # significant digits, the same envelope the numeric tiers get.
        t = F.regexp_replace(src, r"^\s+|\s+$", "")
        plain = t.rlike(r"\A[+-]?(\d+(\.\d*)?|\.\d+)\z")
        expo = t.rlike(r"\A[+-]?(\d+(\.\d*)?|\.\d+)[eE][+-]?\d+\z")
        emag = F.abs(t.cast("double"))
        etier = (
            F.when(emag < F.lit(1e20),
                   t.cast(T.DecimalType(38, 18)).cast("string"))
            .when(emag < F.lit(1e38),
                  t.cast(T.DecimalType(38, 0)).cast("string"))
        )
        return (
            F.when(plain, _bd_canon(t))
            .when(expo, _bd_canon(etier))
            .otherwise(F.lit(None).cast("string"))
        )
    if isinstance(dt, T.DecimalType):
        # decimal renders its declared scale ('12.50') — canonicalize
        return _bd_canon(src.cast("string"))
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.BooleanType, T.DateType)):
        return src.cast("string")
    mag = F.abs(src.cast("double"))  # null mag falls through to the null
    return _bd_canon(
        F.when(mag < F.lit(1e20),
               src.cast(T.DecimalType(38, 18)).cast("string"))
        .when(mag < F.lit(1e38),
              src.cast(T.DecimalType(38, 0)).cast("string"))
        .otherwise(F.lit(None).cast("string"))
    )


def infer_func(sf: dict[str, Any]) -> str:
    if "func" in sf:
        return str(sf["func"])
    if "op" in sf:
        return str(sf["op"])
    keys = set(sf) - {"ignore", "name"}
    if not keys:
        return "pass"
    if "field" in sf:
        return "cast" if "type" in sf else "rename"
    if "value" in sf:
        if "type" not in sf:
            raise ValueError("selectField value requires type parameter")
        return "constant"
    if keys == {"type"}:
        return "cast"
    if "expression" in sf:
        return "expression"
    if "text" in sf:
        return "text"
    if "fields" in sf:
        return "struct"
    raise ValueError(f"selectField requires func parameter: {sf}")


STATEFUL_FUNCS = {
    "lag", "count", "sum", "max", "min", "avg", "std", "first", "last",
    "argmax", "argmin", "array_agg", "simple_regression", "regression",
}
NAVIGATION_FUNCS = {"row_number", "rank", "dense_rank", "lead"}


def is_stateful(sf: dict[str, Any]) -> bool:
    f = infer_func(sf)
    return f in STATEFUL_FUNCS or f in NAVIGATION_FUNCS


def compile_selects(
    selects: list[dict[str, Any]],
    df: DataFrame,
    event_time_col: str | None = None,
    bound: dict[str, str] | None = None,
) -> tuple[DataFrame, list[tuple[str, str]]]:
    """Compile stateless select functions to ``(name, SQL text)`` pairs.

    Sequential binding: each compiled output is added to the visible
    namespace for subsequent functions, which inline its text.  ``bound``
    seeds the namespace — nested field lists (struct/json/map) pass the
    OUTER bindings so a sub-field can reference an earlier top-level
    output (r12 review find: it previously captured the stale physical
    column).

    Returns the frame the texts resolve against: ``df``, plus one hidden
    column per output that must bind once — one with no SQL spelling
    (a Python UDF, a Column-built cast), or a nondeterministic ``uuid``
    a later function may reference (a single projection would INLINE it
    into both slots, and Spark re-evaluates nondeterministic expressions
    per slot — id != id2; CollapseProject never merges through a
    nondeterministic projection, so the value binds once).
    """
    bound = dict(bound or {})
    live = [sf for sf in selects if not sf.get("ignore")]
    out: list[tuple[str, str]] = []
    for i, sf in enumerate(live):
        name = sf["name"]
        df, sql = _compile_one(sf, df, bound, event_time_col)
        if not isinstance(sql, str) or (infer_func(sf) == "uuid" and i < len(live) - 1):
            df, sql = _hide(df, name, sql)
        bound[name] = sql
        out.append((name, sql))
    return df, out


def _hide(df: DataFrame, name: str, out: str | Column) -> tuple[DataFrame, str]:
    """Project ``out`` under a hidden name; later texts reference it."""
    holder = f"__b_{name}__"
    if holder in df.columns:  # a nested list reusing an outer name
        holder = f"__b{len(df.columns)}_{name}__"
    col = F.expr(out) if isinstance(out, str) else out
    return df.select("*", col.alias(holder)), qi(holder)


def _is_hidden(column: str) -> bool:
    return re.fullmatch(r"__b\d*_.*__", column) is not None


def apply_select(
    df: DataFrame,
    selects: list[dict[str, Any]],
    event_time_col: str | None = None,
    group_fields: list[str] | None = None,
) -> DataFrame:
    """Project ``df`` through a select list (stateless + stateful mix):
    the stateless list ships in one ``selectExpr``."""
    stateful = [sf for sf in selects if not sf.get("ignore") and is_stateful(sf)]
    if stateful:
        if df.isStreaming:
            # batch compiles to Window frames, which Spark rejects on
            # streams; the bounded count-range subset runs on
            # applyInPandasWithState instead (parity-tested)
            from pipeline_spark.streaming.state import streaming_stateful_select

            return streaming_stateful_select(
                df, selects, event_time_col, group_fields or []
            )
        from pipeline_spark.compilers.stateful import apply_stateful_select

        return apply_stateful_select(df, selects, event_time_col, group_fields)
    work, pairs = compile_selects(selects, df, event_time_col)
    return work.selectExpr(*[f"{sql} AS {qi(n)}" for n, sql in pairs])


def _element_field_names(df: DataFrame, array_field: str) -> set[str]:
    """Field names of an array-of-struct column's element type."""
    try:
        dtype = df.schema[array_field].dataType
        if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, T.StructType):
            return {f.name for f in dtype.elementType.fields}
    except Exception:
        pass
    return set()


def parse_timestamp(src: str, df: DataFrame | None = None, field: str | None = None) -> str:
    """String → timestamp SQL accepting the reference's DateTimeUtil
    formats (DateTimeUtilTest.java:134-148: ISO with/without Z or
    fraction, space-separated, date-only, ``yyyyMMdd``, ``yyyy/MM/dd``,
    and ``+0900``-style offsets).  Spark's plain try_to_timestamp covers
    all but the basic and slash date forms — coalesce picks the first
    parse.  Non-string inputs keep the plain cast (no-op for timestamps,
    epoch-seconds for numerics)."""
    if df is not None:
        dt = None
        if field is not None:
            try:
                dt = df.schema[field].dataType
            except Exception:
                dt = None
        if dt is None:
            # bound (computed/renamed) or dotted sources aren't in
            # df.schema by name — resolve the expression's own type,
            # like _cast_bigdecimal, or a numeric bound column falls
            # into the string-parse branch and yields NULL
            try:
                dt = df.selectExpr(src).schema[0].dataType
            except Exception:
                dt = None
        if dt is not None and not isinstance(dt, T.StringType):
            return f"CAST({src} AS TIMESTAMP)"
    s = f"CAST({src} AS STRING)"
    return (
        f"coalesce(try_to_timestamp({s}), try_to_timestamp({s}, 'yyyyMMdd'), "
        f"try_to_timestamp({s}, 'yyyy/MM/dd HH:mm:ss'), try_to_timestamp({s}, 'yyyy/MM/dd'))"
    )


def _ref(name: str, bound: dict[str, str]) -> str:
    if name in bound:
        return f"({bound[name]})"
    # dotted paths reach into structs (ElementSchemaUtil.getInputFieldType)
    return col_ref(name)


def _lit(v: Any) -> str:
    """SQL for the literal ``F.lit(v)`` builds from a config value."""
    if isinstance(v, (list, tuple)):
        return f"array({', '.join(_lit(x) for x in v)})"
    return sql_lit(v)


def _cast(sql: str, dt: T.DataType) -> str | Column:
    ddl = atomic_ddl(dt)
    if ddl is None:
        return F.expr(sql).cast(dt)
    return f"CAST({sql} AS {ddl})"


def _compile_one(
    sf: dict[str, Any],
    df: DataFrame,
    bound: dict[str, str],
    event_time_col: str | None,
) -> tuple[DataFrame, str | Column]:
    """One select function → SQL text, or a Column where the output has
    no SQL spelling (the caller projects it under a hidden name).  Nested
    field lists may add hidden columns, so the frame comes back too."""
    func = infer_func(sf)
    if func in ("json", "jsons", "map", "maps") or (func == "struct" and not sf.get("each")):
        df, inner = compile_selects(sf["fields"], df, bound=bound)
        if func in ("map", "maps"):
            return df, f"map({', '.join(f'{sql_lit(n)}, {c}' for n, c in inner)})"
        out = f"struct({', '.join(f'{c} AS {qi(n)}' for n, c in inner)})"
        if func != "struct":
            return df, f"to_json({out})"
        if str(sf.get("mode", "")).lower() == "repeated":
            return df, f"array({out})"
        return df, out
    if func == "hash":
        if sf.get("text"):
            src = _compile_text(str(sf["text"]), df, bound)
            if not isinstance(src, str):  # a per-row template render
                df, src = _hide(df, f"{sf['name']}_text", src)
        else:
            fields = sf.get("fields") or [sf.get("field")]
            cols = [f"CAST({_ref(f, bound)} AS STRING)" for f in fields]
            src = f"concat_ws('', {', '.join(cols)})" if len(cols) > 1 else cols[0]
        return df, _compile_hash(sf, src)
    return df, _compile_flat(sf, func, df, bound, event_time_col)


def _compile_flat(
    sf: dict[str, Any],
    func: str,
    df: DataFrame,
    bound: dict[str, str],
    event_time_col: str | None,
) -> str | Column:
    name = sf["name"]

    if func == "pass":
        return _ref(name, bound)
    if func == "rename":
        return _ref(sf["field"], bound)
    if func == "cast":
        src = _ref(sf.get("field", name), bound)
        if _is_bigdecimal(sf["type"]):
            return _cast_bigdecimal(F.expr(src), df)
        dt = spark_type(sf["type"])
        if isinstance(dt, T.TimestampType):
            return parse_timestamp(src, df, sf.get("field", name))
        return _cast(src, dt)
    if func == "constant":
        v = sf["value"]
        if _is_bigdecimal(sf["type"]):
            # canonical plain notation: str(1e-07) is scientific, so
            # numerics format through Decimal
            from decimal import Decimal

            s = v.strip() if isinstance(v, str) else format(
                Decimal(str(v)), "f")
            return sql_lit(s)
        dt = spark_type(sf["type"])
        if isinstance(dt, T.TimestampType):
            return parse_timestamp(sql_lit(str(v)))
        if isinstance(dt, T.DateType):
            return f"CAST({sql_lit(str(v))} AS DATE)"
        return _cast(_lit(v), dt)
    if func == "expression":
        return compile_expression(str(sf["expression"]), schema_resolver(df, extra=bound))
    if func == "text":
        return _compile_text(str(sf["text"]), df, bound)
    if func == "concat":
        cols = "".join(f", CAST({_ref(f, bound)} AS STRING)" for f in sf["fields"])
        return f"concat_ws({sql_lit(sf.get('delimiter', ''))}{cols})"
    if func == "nullif":
        from pipeline_spark.compilers.filter_dsl import compile_filter

        # condition leaves resolve against prior select outputs first
        # (sequential binding, Nullif.java:56-64), then physical columns
        cond = compile_filter(sf.get("condition"), df, bound)
        src = _ref(sf.get("field", name), bound)
        return f"CASE WHEN {cond} THEN NULL ELSE {src} END"
    if func == "uuid":
        return "uuid()"
    if func == "event_timestamp":
        if event_time_col and event_time_col in df.columns:
            return col_ref(event_time_col)
        return "current_timestamp()"
    if func == "current_timestamp":
        return "current_timestamp()"
    if func == "struct":
        return _compile_struct_each(sf, df, bound)
    if func in ("json_path", "jsonpath"):
        path = sf["path"]
        if not path.startswith("$"):
            path = "$." + path
        return f"get_json_object(CAST({_ref(sf['field'], bound)} AS STRING), {sql_lit(path)})"
    if func == "switch":
        return _compile_switch(sf, df, bound)
    if func == "base64_encode":
        return f"CAST(base64(CAST({_ref(sf['field'], bound)} AS BINARY)) AS BINARY)"
    if func == "base64_decode":
        return f"unbase64(CAST({_ref(sf['field'], bound)} AS STRING))"
    if func == "bytes_encode":
        # HBase Bytes.toBytes big-endian encoding — JVM-side
        return _hbase_encode(_ref(sf["field"], bound), df, sf)
    if func == "bytes_decode":
        return _hbase_decode(_ref(sf["field"], bound), sf["type"])
    if func == "panic":
        from pipeline_spark.compilers.filter_dsl import as_false_on_null, compile_filter

        cond = compile_filter(sf.get("condition"), df, bound)
        msg = sf.get("message", f"panic: {name}")
        return (
            f"CASE WHEN {as_false_on_null(cond)} THEN raise_error({sql_lit(str(msg))}) "
            "ELSE CAST(NULL AS STRING) END"
        )
    if func == "generate":
        return _compile_generate(sf)
    if func == "reshape":
        return _compile_reshape(sf, bound)
    if func == "scrape":
        return _compile_scrape(sf, bound)
    if func == "http":
        raise ValueError(
            "per-row http enrichment is the `http` transform module "
            "(batched mapInPandas), not a select function in this engine"
        )
    raise ValueError(f"unknown select func '{func}'")


def _compile_struct_each(sf: dict[str, Any], df: DataFrame, bound: dict[str, str]) -> Column:
    """Iterate an array field: sub-fields evaluate per element
    (reference: select/Struct.java:55-86 eachField handling).  A
    string-typed each-field holds a JSON array (reference
    FilterTransformTest: json select output iterated with jsonpath
    sub-fields); from_json to array<string> keeps each element's raw JSON
    for get_json_object."""
    each = sf["each"]
    arr = F.expr(_ref(each, bound))
    elem_fields = _element_field_names(df, each)
    json_each = False
    try:
        json_each = isinstance(df.schema[each].dataType, T.StringType)
    except Exception:
        pass
    if json_each:
        arr = F.from_json(arr, "array<string>")

    def per_elem(elem: Column) -> Column:
        cols = []
        for sub in sf["fields"]:
            if sub.get("ignore"):
                continue
            sub_name = sub["name"]
            sub_func = infer_func(sub)
            src_name = sub.get("field", sub_name)
            if sub_func in ("pass", "rename", "cast"):
                if src_name in elem_fields:
                    src = elem[src_name]
                elif src_name.startswith(each + "."):
                    # '<each>.sub.path' addresses the CURRENT
                    # element (Struct.java eachField refs), not the
                    # row-level array-of-subfields projection
                    src = elem
                    for part in src_name[len(each) + 1 :].split("."):
                        src = src[part]
                else:
                    src = F.expr(_ref(src_name, bound))
                if sub_func == "cast" or "type" in sub:
                    src = src.cast(spark_type(sub["type"]))
                cols.append(src.alias(sub_name))
            elif sub_func == "constant":
                cols.append(F.lit(sub["value"]).cast(spark_type(sub["type"])).alias(sub_name))
            elif sub_func in ("json_path", "jsonpath"):
                path = sub["path"]
                if not path.startswith("$"):
                    path = "$." + path
                src = elem if sub.get("field", each) == each else F.expr(_ref(sub["field"], bound))
                cols.append(F.get_json_object(src.cast("string"), path).alias(sub_name))
            else:
                raise ValueError(
                    f"struct each: sub-func '{sub_func}' not supported inside iteration"
                )
        return F.struct(*cols)

    return F.transform(arr, per_elem)


def _compile_reshape(sf: dict[str, Any], bound: dict[str, str]) -> str:
    """Treat a flat array as a tensor of ``shape``; slice by fixed leading
    ``indices`` (strided window into the flat array) — reference:
    select/Reshape.java:13-264."""
    src = _ref(sf["field"], bound)
    shape = [int(x) for x in sf["shape"]]
    indices = [int(x) for x in sf.get("indices", [])]
    if len(indices) > len(shape):
        raise ValueError("reshape: more indices than dimensions")
    strides = []
    acc = 1
    for dim in reversed(shape):
        strides.append(acc)
        acc *= dim
    strides = list(reversed(strides))
    offset = sum(i * s for i, s in zip(indices, strides))
    length = strides[len(indices) - 1] if indices else acc
    return f"slice({src}, {offset + 1}, {length})"


def _compile_scrape(sf: dict[str, Any], bound: dict[str, str]) -> str | Column:
    """HTML extraction (reference: select/Scrape.java:1-304 uses css
    selectors via jsoup).  The regex ``pattern`` form is pure SQL
    (``regexp_extract``); the css ``selector`` form runs the stdlib
    selector engine (functions/htmlselect.py — tag/#id/.class/[attr]/
    descendant/child/groups subset, unsupported syntax fails at plan
    time) in a vectorized pandas UDF."""
    src = f"CAST({_ref(sf['field'], bound)} AS STRING)"
    if sf.get("pattern"):
        return f"regexp_extract({src}, {sql_lit(str(sf['pattern']))}, {int(sf.get('group', 1))})"
    selector = sf.get("selector") or sf.get("css")
    if selector:
        from pipeline_spark.functions.htmlselect import _compile_path, select_text

        # validate selector at plan time
        for group in str(selector).split(","):
            _compile_path(group)
        attr = sf.get("attribute") or sf.get("attr")
        all_matches = bool(sf.get("all", False))
        ret_type = "array<string>" if all_matches else "string"
        import pandas as pd

        @F.pandas_udf(ret_type)
        def scrape(html: pd.Series) -> pd.Series:
            return html.fillna("").map(
                lambda h: select_text(h, str(selector), attr=attr, all_matches=all_matches)
            )

        return scrape(F.expr(src))
    raise ValueError("scrape requires a `pattern` (regex) or `selector` (css)")


# whitespace allowed: the only_simple qualifier strips it, so the
# substituter must match the same shape or `${ field }` would emit as
# literal text (the group is .strip()'d at use)
_SIMPLE_FIELD_RE = r"\$\{\s*([A-Za-z_][A-Za-z0-9_.]*)\s*\}"


def _compile_text(template: str, df: DataFrame, bound: dict[str, str]) -> str | Column:
    """Row templating with a two-tier compile.

    The reference renders a full FreeMarker template per row
    (select/Text.java:94-100, util/TemplateUtil.java).  Tiering:

      1. plain ``${field}`` interpolation (the overwhelmingly common
         case) compiles to JVM-side ``concat`` — whole-stage codegen,
         zero Python;
      2. anything else — FreeMarker directives (``<#if>``, ``<#list>``),
         builtins (``?string(fmt)``, ``?upper_case``, …) or richer
         ``${expr}`` forms — is translated to Jinja2 (the engine's
         public substitute for FreeMarker, SURVEY §2.11) and rendered
         per row in an Arrow-batched pandas UDF.  FreeMarker syntax is
         deliberate: it passes through the config loader's own Jinja
         pass untouched, so reference configs run verbatim.  Raw Jinja
         (``{{ }}``/``{% %}``) also works when escaped with
         ``{% raw %}`` at the config level.
    """

    exprs = re.findall(r"\$\{([^}]+)\}", template)
    only_simple = all(re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", e.strip()) for e in exprs)
    if (
        only_simple
        and "{{" not in template
        and "{%" not in template
        and "<#" not in template
    ):
        parts: list[str] = []
        pos = 0
        for m in re.finditer(_SIMPLE_FIELD_RE, template):
            if m.start() > pos:
                parts.append(sql_lit(template[pos : m.start()]))
            parts.append(f"CAST({_ref(m.group(1).strip(), bound)} AS STRING)")
            pos = m.end()
        if pos < len(template):
            parts.append(sql_lit(template[pos:]))
        if not parts:
            return "''"
        return f"concat({', '.join(parts)})"
    return _jinja_template_column(template, df)


def _java_datefmt_to_strftime(fmt: str) -> str:
    """Common SimpleDateFormat pattern letters → strftime (FreeMarker's
    ?string(fmt) takes Java patterns)."""
    out = fmt
    for java, strf in (
        ("yyyy", "%Y"), ("yy", "%y"), ("MM", "%m"), ("dd", "%d"),
        ("HH", "%H"), ("mm", "%M"), ("ss", "%S"), ("SSS", "%f"),
    ):
        out = out.replace(java, strf)
    return out


def _fm_string_filter(value, fmt=None):
    """FreeMarker ``?string`` / ``?string(fmt)``: dates format via the
    translated Java pattern; numbers via str()."""
    import datetime as dt

    if fmt is not None and hasattr(value, "strftime"):
        jf = str(fmt)
        if "SSS" in jf:
            # SSS is MILLIS (3 digits); strftime only has %f (micros,
            # 6 digits) — substitute the rendered 3-digit value as a
            # literal before translating the rest of the pattern
            jf = jf.replace("SSS", value.strftime("%f")[:3])
        return value.strftime(_java_datefmt_to_strftime(jf))
    if isinstance(value, bool):
        return "true" if value else "false"
    if fmt is not None and isinstance(value, (int, float)):
        return format(value, str(fmt)) if "%" not in str(fmt) else str(fmt) % value
    return str(value)


_FM_FILTERS = {
    "fm_string": _fm_string_filter,
    "fm_upper_case": lambda v: str(v).upper(),
    "fm_lower_case": lambda v: str(v).lower(),
    "fm_cap_first": lambda v: str(v)[:1].upper() + str(v)[1:],
    "fm_length": lambda v: len(v),
    "fm_trim": lambda v: str(v).strip(),
    "fm_c": lambda v: repr(v).lower() if isinstance(v, bool) else str(v),
    "fm_has_content": lambda v: v is not None and len(str(v)) > 0,
}


def _fm_cond_to_jinja(cond: str) -> str:
    """FreeMarker comparison/logic keywords → Jinja/Python operators."""

    s = cond
    s = re.sub(r"\bgte\b", ">=", s)
    s = re.sub(r"\blte\b", "<=", s)
    s = re.sub(r"\bgt\b", ">", s)
    s = re.sub(r"\blt\b", "<", s)
    s = s.replace("&&", " and ").replace("||", " or ")
    s = re.sub(r"!(?=[A-Za-z_(])", "not ", s)
    return _fm_expr_to_jinja(s)


def _fm_expr_to_jinja(expr: str) -> str:
    """``a?builtin(args)`` chains → ``a | fm_builtin(args)`` filters."""

    def repl(m):
        builtin, args = m.group(1), m.group(3)
        return f" | fm_{builtin}({args})" if args is not None else f" | fm_{builtin}"

    return re.sub(r"\?([a-z_]+)(\(([^()]*)\))?", repl, expr)


def freemarker_to_jinja(template: str) -> str:
    """Translate the supported FreeMarker subset to Jinja2 source:
    ``<#if/<#elseif/<#else/</#if>``, ``<#list x as y>``, ``${expr}``
    interpolations with ``?builtin`` chains."""

    s = template
    s = re.sub(r"<#if\s+(.+?)>", lambda m: "{% if " + _fm_cond_to_jinja(m.group(1)) + " %}", s)
    s = re.sub(r"<#elseif\s+(.+?)>", lambda m: "{% elif " + _fm_cond_to_jinja(m.group(1)) + " %}", s)
    s = s.replace("<#else>", "{% else %}").replace("</#if>", "{% endif %}")
    s = re.sub(r"<#list\s+([\w.]+)\s+as\s+(\w+)\s*>", r"{% for \2 in \1 %}", s)
    s = s.replace("</#list>", "{% endfor %}")
    s = re.sub(
        r"\$\{([^}]+)\}", lambda m: "{{ " + _fm_expr_to_jinja(m.group(1)) + " }}", s
    )
    return s


def render_row_template(template: str):
    """Plan-time compile of a row template (FreeMarker subset or raw
    Jinja); returns ``render(row_dict) -> str``.  Shared by the text
    select fn and any module needing per-row templating."""
    import jinja2

    from pipeline_spark.functions.template_utils import UTILS

    jinja_src = freemarker_to_jinja(template)
    env = jinja2.Environment(undefined=jinja2.ChainableUndefined)
    env.filters.update(_FM_FILTERS)
    env.globals["utils"] = UTILS
    tpl = env.from_string(jinja_src)
    return tpl.render


def _jinja_template_column(template: str, df: DataFrame) -> Column:
    """Render a row template per row (slow path — only taken when the
    template needs more than field interpolation).  The whole row binds
    as template variables; Arrow-batched so render cost is per row, not
    per ser/de."""
    # validate at plan time: template errors should fail the plan, not
    # every executor task
    render_row_template(template)
    jinja_src = freemarker_to_jinja(template)
    cols = [c for c in df.columns if not _is_hidden(c)]
    import pandas as pd

    @F.pandas_udf("string")
    def render(rows: pd.DataFrame) -> pd.Series:
        import jinja2 as _j

        from pipeline_spark.functions.template_utils import UTILS

        env = _j.Environment(undefined=_j.ChainableUndefined)
        env.filters.update(_FM_FILTERS)
        env.globals["utils"] = UTILS
        tpl = env.from_string(jinja_src)
        return pd.Series(
            [tpl.render(rec) for rec in rows.to_dict(orient="records")]
        )

    return render(F.struct(*[F.col(c) for c in cols]))


def _compile_hash(sf: dict[str, Any], src: str) -> str:
    """sha256 (default) / md5 / sha512 / hmac over fields or text template
    (reference: select/Hash.java:103-130, default ALGORITHM_SHA256)."""
    algorithm = str(sf.get("algorithm", "sha256")).lower()
    secret = sf.get("secret")
    if secret:  # HMAC via expr (Spark has no builtin HMAC; use sha2 of key||msg fallback)
        src = f"concat({sql_lit(str(secret))}, {src})"
    if algorithm == "md5":
        out = f"md5({src})"
    elif algorithm in ("sha512", "sha-512"):
        out = f"sha2({src}, 512)"
    elif algorithm in ("sha1", "sha-1"):
        out = f"sha1({src})"
    else:
        out = f"sha2({src}, 256)"
    size = sf.get("size")
    if size:
        out = f"substring({out}, 1, {int(size)})"
    return out


def _compile_switch(sf: dict[str, Any], df: DataFrame, bound: dict[str, str]) -> str:
    from pipeline_spark.compilers.filter_dsl import compile_filter

    whens = "".join(
        f" WHEN {compile_filter(case.get('when') or case.get('condition'), df, bound)}"
        f" THEN {_lit(case.get('then') if 'then' in case else case.get('value'))}"
        for case in sf.get("cases", [])
    )
    default = _lit(sf.get("default"))
    if not whens:
        return default
    return f"CASE{whens} ELSE {default} END"


def _hbase_encode(src: str, df: DataFrame, sf: dict[str, Any]) -> str:
    """Big-endian byte encoding like HBase Bytes.toBytes
    (reference: select/Bytes.java)."""
    dtypes = dict(df.dtypes)
    fname = sf["field"]
    dt = dtypes.get(fname)
    if dt is None:
        # bound (computed/renamed) sources aren't in df.dtypes by name —
        # resolve the expression's own type or an int bound column
        # silently encodes as UTF-8 text bytes instead of big-endian
        try:
            dt = df.selectExpr(src).schema[0].dataType.simpleString()
        except Exception:
            dt = "string"
    if dt in ("int", "bigint", "smallint", "tinyint"):
        width = {"tinyint": 1, "smallint": 2, "int": 4, "bigint": 8}[dt]
        hexw = width * 2
        # hex(bigint) of a negative is 16 two's-complement chars; lpad keeps
        # the LEFTMOST chars so it would collapse every negative to all-FF
        # sign bytes — pad to full bigint width first, then take the
        # rightmost hexw chars (correct two's-complement truncation)
        return f"unhex(substring(lpad(hex(CAST({src} AS BIGINT)), 16, '0'), {-hexw}, {hexw}))"
    return f"CAST(CAST({src} AS STRING) AS BINARY)"


def _hbase_decode(src: str, type_name: str) -> str:
    dt = spark_type(type_name)
    widths = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4, T.LongType: 8}
    if type(dt) in widths:
        w = widths[type(dt)]
        # conv() yields the UNSIGNED value; re-apply two's complement via
        # decimal(38,0) (2^64 fits) so negative encodings round-trip
        unsigned = f"CAST(conv(hex({src}), 16, 10) AS DECIMAL(38,0))"
        # 2^63 / 2^64 exceed a BIGINT literal — go through string→decimal
        # literals (found by the SelectFunctionTest parity config:
        # bytes_decode of an int64 raised at plan time)
        half = f"CAST('{2 ** (8 * w - 1)}' AS DECIMAL(38,0))"
        full = f"CAST('{2 ** (8 * w)}' AS DECIMAL(38,0))"
        signed = f"CASE WHEN ({unsigned} >= {half}) THEN ({unsigned} - {full}) ELSE {unsigned} END"
        return f"CAST({signed} AS {atomic_ddl(dt)})"
    if isinstance(dt, T.StringType):
        return f"CAST({src} AS STRING)"
    raise ValueError(f"bytes_decode: unsupported type {type_name}")


def _compile_generate(sf: dict[str, Any]) -> str:
    """Typed sequence/id generation (reference: select/Generate.java:19-212)."""
    gen_type = str(sf.get("type", "long")).lower()
    if gen_type in ("long", "int64", "id"):
        return "monotonically_increasing_id()"
    if gen_type in ("uuid", "string"):
        return "uuid()"
    if gen_type == "timestamp":
        return "current_timestamp()"
    raise ValueError(f"generate: unsupported type {gen_type}")
