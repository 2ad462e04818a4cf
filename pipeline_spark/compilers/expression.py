"""exp4j-dialect arithmetic expression → Spark Column compiler.

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

We compile the same grammar to a Catalyst Column tree instead of
interpreting per row, so the expression joins whole-stage codegen.

Lag syntax: `field[k]` means the value k rows back per key (used by the
stateful `lag` select function, reference:
util/pipeline/select/stateful/Lag.java:16-162). The parser surfaces these as
``(name, k)`` lookups through the pluggable ``resolver``; plain fields are
``(name, 0)``.
"""

from __future__ import annotations

import math
import operator
import re
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# comparison operator -> Column builder; each Column op is ~11 py4j
# round-trips, so only the named one is built
COMPARISONS: dict[str, Callable[[Column, object], Column]] = {
    "=": operator.eq, "!=": operator.ne,
    ">": operator.gt, ">=": operator.ge,
    "<": operator.lt, "<=": operator.le,
}

# resolver(field_name, lag_index) -> double-valued Column
Resolver = Callable[[str, int], Column]

_TOKEN_RE = re.compile(
    r"\s*(?:"
    r"(?P<num>\d+\.\d*|\.\d+|\d+)"
    r"|(?P<name>[A-Za-z_À-ɏͰ-Ͽ][A-Za-z0-9_À-ɏͰ-Ͽ]*|π)"
    r"|(?P<op>>=|<=|!=|[=><!&|^+\-*/%(),\[\]])"
    r")"
)

_UNARY_FUNCS = {
    "abs": F.abs, "acos": F.acos, "asin": F.asin, "atan": F.atan,
    "cbrt": F.cbrt, "ceil": F.ceil, "cos": F.cos, "cosh": F.cosh,
    "exp": F.exp, "floor": F.floor, "log": F.log, "ln": F.log,
    "log10": F.log10, "log2": F.log2, "sin": F.sin, "sinh": F.sinh,
    "sqrt": F.sqrt, "tan": F.tan, "tanh": F.tanh, "signum": F.signum,
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


def _bool2d(c: Column) -> Column:
    return F.when(c, F.lit(1.0)).otherwise(F.lit(0.0))


def _truthy(c: Column) -> Column:
    return c > F.lit(0.0)


class _Parser:
    def __init__(self, text: str, resolver: Resolver):
        self.text = text
        self.resolver = resolver
        self.tokens: list[str] = []
        pos = 0
        while pos < len(text):
            m = _TOKEN_RE.match(text, pos)
            if not m or m.end() == pos:
                if text[pos:].strip():
                    raise ValueError(f"bad expression near '{text[pos:]}' in: {text}")
                break
            self.tokens.append(m.group(m.lastgroup))
            pos = m.end()
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
    def parse(self) -> Column:
        col = self.or_expr()
        if self.peek() is not None:
            raise ValueError(f"trailing tokens from '{self.peek()}' in: {self.text}")
        return col

    def or_expr(self) -> Column:
        left = self.and_expr()
        while self.peek() == "|":
            self.next()
            right = self.and_expr()
            left = _bool2d(_truthy(left) | _truthy(right))
        return left

    def and_expr(self) -> Column:
        left = self.not_expr()
        while self.peek() == "&":
            self.next()
            right = self.not_expr()
            left = _bool2d(_truthy(left) & _truthy(right))
        return left

    def not_expr(self) -> Column:
        if self.peek() == "!":
            self.next()
            inner = self.not_expr()
            return _bool2d(~_truthy(inner))
        return self.cmp_expr()

    def cmp_expr(self) -> Column:
        left = self.add_expr()
        op = self.peek()
        if op in COMPARISONS:
            self.next()
            right = self.add_expr()
            return _bool2d(COMPARISONS[op](left, right))
        return left

    def add_expr(self) -> Column:
        left = self.mul_expr()
        while self.peek() in ("+", "-"):
            op = self.next()
            right = self.mul_expr()
            left = left + right if op == "+" else left - right
        return left

    def mul_expr(self) -> Column:
        left = self.unary_expr()
        while self.peek() in ("*", "/", "%"):
            op = self.next()
            right = self.unary_expr()
            if op == "*":
                left = left * right
            elif op == "/":
                left = left / right
            else:
                left = left % right
        return left

    def unary_expr(self) -> Column:
        if self.peek() == "-":
            self.next()
            return -self.unary_expr()
        if self.peek() == "+":
            self.next()
            return self.unary_expr()
        return self.pow_expr()

    def pow_expr(self) -> Column:
        base = self.atom()
        if self.peek() == "^":  # right-assoc, binds tighter than unary minus on rhs
            self.next()
            return F.pow(base, self.unary_expr())
        return base

    def atom(self) -> Column:
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
            return F.lit(float(tok))
        if tok in _CONSTANTS and self.peek() != "(":
            return F.lit(_CONSTANTS[tok])
        if self.peek() == "(":
            return self.call(tok)
        if self.peek() == "[":  # lag index: field[k]
            self.next()
            k = int(self.next())
            self.expect("]")
            return self.resolver(tok, k)
        return self.resolver(tok, 0)

    def call(self, fname: str) -> Column:
        self.expect("(")
        args: list[Column] = []
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
            out = _UNARY_FUNCS[name](args[0])
            # exp4j stays double everywhere; Spark ceil/floor return long
            if name in ("ceil", "floor"):
                out = out.cast("double")
            return out
        if name == "if":
            return F.when(_truthy(args[0]), args[1]).otherwise(args[2])
        if re.fullmatch(r"switch\d+", name):
            col = None
            for i in range(0, len(args), 2):
                cond = _truthy(args[i])
                col = F.when(cond, args[i + 1]) if col is None else col.when(cond, args[i + 1])
            return col.otherwise(F.lit(0.0))
        if name == "max":
            return F.greatest(*args)
        if name == "min":
            return F.least(*args)
        if name.startswith("timestamp_diff_"):
            part = name.removeprefix("timestamp_diff_")
            scale = _MICROS[part]
            diff = args[0] - args[1]
            if scale == 1:
                return diff
            # reference truncates toward zero: Double.longValue()
            return (diff / F.lit(float(scale))).cast("long").cast("double")
        if name == "timestamp_to_date":
            micros = args[0] + args[1] * F.lit(3_600_000_000.0)
            millis = micros.cast("long") / F.lit(1000.0)
            return F.floor(millis / F.lit(86_400_000.0)).cast("double")
        raise ValueError(f"unknown function '{fname}' in: {self.text}")


def field_variables(text: str) -> set[str]:
    """Names referenced by an expression (for required-field validation)."""
    names = set()
    p = _Parser(text, lambda n, k: F.lit(0.0))
    for i, tok in enumerate(p.tokens):
        if re.fullmatch(r"[A-Za-z_À-ɏͰ-Ͽ][A-Za-z0-9_À-ɏͰ-Ͽ]*|π", tok):
            if tok in _CONSTANTS or tok.lower() in _UNARY_FUNCS:
                continue
            if i + 1 < len(p.tokens) and p.tokens[i + 1] == "(":
                continue
            names.add(tok)
    return names


def max_lag_index(text: str) -> int:
    """Largest `field[k]` index in the expression (reference:
    util/pipeline/select/stateful/Lag.java:56-59 derives the buffer size
    from the max array index)."""
    best = 0
    p = _Parser(text, lambda n, k: F.lit(0.0))
    for i, tok in enumerate(p.tokens):
        if tok == "[" and i + 1 < len(p.tokens):
            best = max(best, int(p.tokens[i + 1]))
    return best


def to_double(col: Column, dtype: T.DataType) -> Column:
    """Coerce a field to exp4j's double view per the reference type mapping
    (docs/config/module/common/expression.md)."""
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(col).cast("double")
    if isinstance(dtype, T.DateType):
        return F.datediff(col, F.lit("1970-01-01")).cast("double")
    return col.cast("double")


def schema_resolver(df: DataFrame, extra: dict[str, Column] | None = None) -> Resolver:
    """Default resolver: look fields up in ``df`` with type-aware coercion.

    ``extra`` lets sequentially-bound select outputs shadow input columns
    (reference: SelectFunction.java:64-87 sequential name binding).
    Lag indices (k>0) require a windowed resolver — see select_fns.
    """
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    def resolve(name: str, k: int) -> Column:
        if k != 0:
            raise ValueError(f"lag syntax {name}[{k}] only valid in stateful lag context")
        if extra and name in extra:
            # bound outputs need the SAME type-aware coercion as
            # physical columns: a plain double cast turns a bound
            # timestamp into epoch SECONDS while a physical one
            # coerces to MICROS (silent 1e6 skew), and a bound date
            # crashes the cast outright
            try:
                bdt = df.select(extra[name]).schema[0].dataType
            except Exception:  # noqa: BLE001 — unresolvable: plain cast
                return extra[name].cast("double")
            return to_double(extra[name], bdt)
        if name not in dtypes:
            raise ValueError(f"unknown field '{name}' in expression")
        return to_double(F.col(name), dtypes[name])

    return resolve


def compile_expression(text: str, resolver: Resolver) -> Column:
    """Compile an exp4j-dialect expression to a double-valued Column."""
    return _Parser(text, resolver).parse()
