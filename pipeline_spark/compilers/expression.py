"""exp4j-dialect arithmetic expression → Spark SQL text compiler.

The reference evaluates config `expression` strings with exp4j, a
double-typed interpreter where every field value is coerced to double and
booleans are 1.0/0.0 with truthiness `> 0`
(reference: util/ExpressionUtil.java:85-110 operator/function registry;
docs/config/module/common/expression.md).  Coercions
(docs/config/module/common/expression.md "Data type mapping"):

    int/float     -> double
    boolean       -> 1.0 / 0.0
    string        -> parsed double
    date          -> epoch days
    timestamp     -> epoch MICROS

Operator semantics (reference: util/ExpressionUtil.java:277-420):
    = != > >= < <=   -> 1.0/0.0          (PRECEDENCE_ADDITION-1)
    !                -> unary not on >0   (PRECEDENCE_ADDITION-2)
    &                -> both >0           (PRECEDENCE_ADDITION-3)
    |                -> either >0         (PRECEDENCE_ADDITION-4)
    ^                -> power (right-assoc)
Functions (util/ExpressionUtil.java:421-560): if(c,a,b) with c>0;
switch{3..8}(c1,v1,c2,v2,...) first c>0 wins else 0; max/min (2-arg);
timestamp_diff_{microsecond..day}(a,b) truncating toward zero;
timestamp_to_date(micros, offset_hour) -> epoch days; abs/acos/.../signum;
constants pi, π, e.

We compile the same grammar to Spark SQL text instead of interpreting per
row: Catalyst parses it into the expression tree the Column API would
build, so the expression joins whole-stage codegen, and a whole select
list ships to the JVM in one ``selectExpr`` instead of one py4j
round-trip per Column operator.  Every subexpression is parenthesized, so
the SQL parser's precedence never regroups the exp4j tree.

Lag syntax: `field[k]` means the value k rows back per key (used by the
stateful `lag` select function, reference:
util/pipeline/select/stateful/Lag.java:16-162). The parser surfaces these as
``(name, k)`` lookups through the pluggable ``resolver``; plain fields are
``(name, 0)``.
"""

from __future__ import annotations

import math
import re
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pipeline_spark.functions.sqltext import qi, sql_lit

# comparison operators, spelled the same in SQL (`!=` parses to
# NOT(a = b), as the Column `!=` builds)
COMPARISONS = frozenset({"=", "!=", ">", ">=", "<", "<="})

# resolver(field_name, lag_index) -> double-valued SQL text
Resolver = Callable[[str, int], str]

_TOKEN_RE = re.compile(
    r"\s*(?:"
    r"(?P<num>\d+\.\d*|\.\d+|\d+)"
    r"|(?P<name>[A-Za-z_À-ɏͰ-Ͽ][A-Za-z0-9_À-ɏͰ-Ͽ]*|π)"
    r"|(?P<op>>=|<=|!=|[=><!&|^+\-*/%(),\[\]])"
    r")"
)

# exp4j name -> Spark SQL function; `log` is the natural log (one-arg
# SQL `log` would be a different node)
_UNARY_FUNCS = {
    "abs": "abs", "acos": "acos", "asin": "asin", "atan": "atan",
    "cbrt": "cbrt", "ceil": "ceil", "cos": "cos", "cosh": "cosh",
    "exp": "exp", "floor": "floor", "log": "ln", "ln": "ln",
    "log10": "log10", "log2": "log2", "sin": "sin", "sinh": "sinh",
    "sqrt": "sqrt", "tan": "tan", "tanh": "tanh", "signum": "signum",
}

_CONSTANTS = {"pi": math.pi, "π": math.pi, "e": math.e}

_MICROS = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


def _bool2d(cond: str) -> str:
    return f"CASE WHEN {cond} THEN 1.0D ELSE 0.0D END"


def _truthy(x: str) -> str:
    return f"({x} > 0.0D)"


def _tokenize(text: str) -> list[str]:
    tokens: list[str] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip():
                raise ValueError(f"bad expression near '{text[pos:]}' in: {text}")
            break
        tokens.append(m.group(m.lastgroup))
        pos = m.end()
    return tokens


class _Parser:
    def __init__(self, text: str, resolver: Resolver):
        self.text = text
        self.resolver = resolver
        self.tokens = _tokenize(text)
        self.i = 0

    def peek(self) -> str | None:
        return self.tokens[self.i] if self.i < len(self.tokens) else None

    def next(self) -> str:
        tok = self.tokens[self.i]
        self.i += 1
        return tok

    def expect(self, tok: str) -> None:
        got = self.next()
        if got != tok:
            raise ValueError(f"expected '{tok}' got '{got}' in: {self.text}")

    # precedence chain (loosest → tightest), mirroring exp4j registrations
    def parse(self) -> str:
        sql = self.or_expr()
        if self.peek() is not None:
            raise ValueError(f"trailing tokens from '{self.peek()}' in: {self.text}")
        return sql

    def or_expr(self) -> str:
        left = self.and_expr()
        while self.peek() == "|":
            self.next()
            right = self.and_expr()
            left = _bool2d(f"({_truthy(left)} OR {_truthy(right)})")
        return left

    def and_expr(self) -> str:
        left = self.not_expr()
        while self.peek() == "&":
            self.next()
            right = self.not_expr()
            left = _bool2d(f"({_truthy(left)} AND {_truthy(right)})")
        return left

    def not_expr(self) -> str:
        if self.peek() == "!":
            self.next()
            inner = self.not_expr()
            return _bool2d(f"(NOT {_truthy(inner)})")
        return self.cmp_expr()

    def cmp_expr(self) -> str:
        left = self.add_expr()
        op = self.peek()
        if op in COMPARISONS:
            self.next()
            right = self.add_expr()
            return _bool2d(f"({left} {op} {right})")
        return left

    def add_expr(self) -> str:
        left = self.mul_expr()
        while self.peek() in ("+", "-"):
            op = self.next()
            left = f"({left} {op} {self.mul_expr()})"
        return left

    def mul_expr(self) -> str:
        left = self.unary_expr()
        while self.peek() in ("*", "/", "%"):
            op = self.next()
            left = f"({left} {op} {self.unary_expr()})"
        return left

    def unary_expr(self) -> str:
        if self.peek() == "-":
            self.next()
            # `(- (x))`: a bare `- 2.0D` would parse as a negative literal,
            # not the UnaryMinus node the Column API builds
            return f"(- ({self.unary_expr()}))"
        if self.peek() == "+":
            self.next()
            return self.unary_expr()
        return self.pow_expr()

    def pow_expr(self) -> str:
        base = self.atom()
        if self.peek() == "^":  # right-assoc, binds tighter than unary minus on rhs
            self.next()
            return f"power({base}, {self.unary_expr()})"
        return base

    def atom(self) -> str:
        tok = self.peek()
        if tok is None:
            raise ValueError(f"unexpected end of expression: {self.text}")
        if tok == "(":
            self.next()
            inner = self.or_expr()
            self.expect(")")
            return inner
        self.next()
        if re.fullmatch(r"\d+\.\d*|\.\d+|\d+", tok):
            return sql_lit(float(tok))
        if tok in _CONSTANTS and self.peek() != "(":
            return sql_lit(_CONSTANTS[tok])
        if self.peek() == "(":
            return self.call(tok)
        if self.peek() == "[":  # lag index: field[k]
            self.next()
            k = int(self.next())
            self.expect("]")
            return self.resolver(tok, k)
        return self.resolver(tok, 0)

    def call(self, fname: str) -> str:
        self.expect("(")
        args: list[str] = []
        if self.peek() != ")":
            args.append(self.or_expr())
            while self.peek() == ",":
                self.next()
                args.append(self.or_expr())
        self.expect(")")
        name = fname.lower()
        if name in _UNARY_FUNCS:
            if len(args) != 1:
                raise ValueError(f"{name}() takes 1 arg")
            out = f"{_UNARY_FUNCS[name]}({args[0]})"
            # exp4j stays double everywhere; Spark ceil/floor return long
            if name in ("ceil", "floor"):
                out = f"CAST({out} AS DOUBLE)"
            return out
        if name == "if":
            if len(args) != 3:
                raise ValueError(
                    f"if() takes 3 args (condition, then, else), got {len(args)} in: {self.text}"
                )
            return f"CASE WHEN {_truthy(args[0])} THEN {args[1]} ELSE {args[2]} END"
        if re.fullmatch(r"switch\d+", name):
            if not args or len(args) % 2:
                raise ValueError(
                    f"{name}() takes condition/value pairs (an even number of args), "
                    f"got {len(args)} in: {self.text}"
                )
            whens = " ".join(
                f"WHEN {_truthy(args[i])} THEN {args[i + 1]}" for i in range(0, len(args), 2)
            )
            return f"CASE {whens} ELSE 0.0D END"
        if name == "max":
            return f"greatest({', '.join(args)})"
        if name == "min":
            return f"least({', '.join(args)})"
        if name.startswith("timestamp_diff_"):
            part = name.removeprefix("timestamp_diff_")
            scale = _MICROS[part]
            diff = f"({args[0]} - {args[1]})"
            if scale == 1:
                return diff
            # reference truncates toward zero: Double.longValue()
            return f"CAST(CAST(({diff} / {sql_lit(float(scale))}) AS BIGINT) AS DOUBLE)"
        if name == "timestamp_to_date":
            micros = f"({args[0]} + ({args[1]} * {sql_lit(3_600_000_000.0)}))"
            millis = f"(CAST({micros} AS BIGINT) / 1000.0D)"
            return f"CAST(FLOOR(({millis} / {sql_lit(86_400_000.0)})) AS DOUBLE)"
        raise ValueError(f"unknown function '{fname}' in: {self.text}")


def field_variables(text: str) -> set[str]:
    """Names referenced by an expression (for required-field validation)."""
    names = set()
    tokens = _tokenize(text)
    for i, tok in enumerate(tokens):
        if re.fullmatch(r"[A-Za-z_À-ɏͰ-Ͽ][A-Za-z0-9_À-ɏͰ-Ͽ]*|π", tok):
            if tok in _CONSTANTS or tok.lower() in _UNARY_FUNCS:
                continue
            if i + 1 < len(tokens) and tokens[i + 1] == "(":
                continue
            names.add(tok)
    return names


def max_lag_index(text: str) -> int:
    """Largest `field[k]` index in the expression (reference:
    util/pipeline/select/stateful/Lag.java:56-59 derives the buffer size
    from the max array index)."""
    best = 0
    tokens = _tokenize(text)
    for i, tok in enumerate(tokens):
        if tok == "[" and i + 1 < len(tokens):
            best = max(best, int(tokens[i + 1]))
    return best


def to_double(sql: str, dtype: T.DataType) -> str:
    """Coerce a field to exp4j's double view per the reference type mapping
    (docs/config/module/common/expression.md)."""
    if isinstance(dtype, T.TimestampType):
        return f"CAST(unix_micros({sql}) AS DOUBLE)"
    if isinstance(dtype, T.DateType):
        return f"CAST(datediff({sql}, '1970-01-01') AS DOUBLE)"
    return f"CAST({sql} AS DOUBLE)"


def schema_resolver(df: DataFrame, extra: dict[str, str] | None = None) -> Resolver:
    """Default resolver: look fields up in ``df`` with type-aware coercion.

    ``extra`` maps sequentially-bound select outputs (name → SQL text) that
    shadow input columns (reference: SelectFunction.java:64-87 sequential
    name binding); their text is inlined.  Lag indices (k>0) require a
    windowed resolver — see stateful.py.
    """
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    def resolve(name: str, k: int) -> str:
        if k != 0:
            raise ValueError(f"lag syntax {name}[{k}] only valid in stateful lag context")
        if extra and name in extra:
            # bound outputs need the SAME type-aware coercion as
            # physical columns: a plain double cast turns a bound
            # timestamp into epoch SECONDS while a physical one
            # coerces to MICROS (silent 1e6 skew), and a bound date
            # crashes the cast outright
            sql = f"({extra[name]})"
            try:
                bdt = df.selectExpr(sql).schema[0].dataType
            except Exception:  # noqa: BLE001 — unresolvable: plain cast
                return f"CAST({sql} AS DOUBLE)"
            return to_double(sql, bdt)
        if name not in dtypes:
            raise ValueError(f"unknown field '{name}' in expression")
        return to_double(qi(name), dtypes[name])

    return resolve


def compile_expression(text: str, resolver: Resolver) -> str:
    """Compile an exp4j-dialect expression to double-valued SQL text."""
    return _Parser(text, resolver).parse()
