"""Property-style check: the exp4j-dialect compiler agrees with a direct
Python evaluation of the same grammar on randomized expressions.

The Python evaluator below re-implements the reference semantics
independently (double-typed, truthiness >0, comparisons→1.0/0.0) so a
systematic compiler bug can't hide in shared code.
"""

import math
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pipeline_spark.compilers.expression import compile_expression, schema_resolver


def py_eval(expr: str, env: dict) -> float:
    """Tiny independent evaluator for the generated subset."""
    import re

    tokens = re.findall(r"\d+\.\d+|\d+|[A-Za-z_]+|[=!<>]=|[-+*/%^()=<>!&|,]", expr)
    pos = 0

    def peek():
        return tokens[pos] if pos < len(tokens) else None

    def eat():
        nonlocal pos
        tok = tokens[pos]
        pos += 1
        return tok

    def b2d(b):
        return 1.0 if b else 0.0

    def or_():
        left = and_()
        while peek() == "|":
            eat()
            right = and_()
            left = b2d(left > 0 or right > 0)
        return left

    def and_():
        left = not_()
        while peek() == "&":
            eat()
            right = not_()
            left = b2d(left > 0 and right > 0)
        return left

    def not_():
        if peek() == "!":
            eat()
            return b2d(not (not_() > 0))
        return cmp_()

    def cmp_():
        left = add_()
        if peek() in ("=", "!=", ">", ">=", "<", "<="):
            op = eat()
            right = add_()
            return b2d(
                {"=": left == right, "!=": left != right, ">": left > right,
                 ">=": left >= right, "<": left < right, "<=": left <= right}[op]
            )
        return left

    def add_():
        left = mul_()
        while peek() in ("+", "-"):
            op = eat()
            r = mul_()
            left = left + r if op == "+" else left - r
        return left

    def mul_():
        left = unary_()
        while peek() in ("*", "/", "%"):
            op = eat()
            r = unary_()
            left = left * r if op == "*" else (left / r if op == "/" else math.fmod(left, r))
        return left

    def unary_():
        if peek() == "-":
            eat()
            return -unary_()
        return pow_()

    def pow_():
        base = atom_()
        if peek() == "^":
            eat()
            return base ** unary_()
        return base

    def atom_():
        tok = eat()
        if tok == "(":
            v = or_()
            eat()  # )
            return v
        if tok in ("if", "max", "min", "sqrt", "abs", "log", "exp"):
            eat()  # (
            args = [or_()]
            while peek() == ",":
                eat()
                args.append(or_())
            eat()  # )
            if tok == "if":
                return args[1] if args[0] > 0 else args[2]
            if tok == "max":
                return max(args)
            if tok == "min":
                return min(args)
            if tok == "sqrt":
                return math.sqrt(args[0])
            if tok == "abs":
                return abs(args[0])
            if tok == "log":
                return math.log(args[0])
            return math.exp(args[0])
        if tok in env:
            return float(env[tok])
        return float(tok)

    return or_()


def gen_expr(rng: random.Random, depth: int = 0) -> str:
    vars_ = ["x", "y", "z"]
    if depth > 3 or rng.random() < 0.3:
        return rng.choice([*vars_, str(rng.randint(1, 9)), f"{rng.uniform(0.5, 9):.1f}"])
    shape = rng.randrange(7)
    a = gen_expr(rng, depth + 1)
    b = gen_expr(rng, depth + 1)
    if shape == 0:
        return f"({a} {rng.choice(['+', '-', '*'])} {b})"
    if shape == 1:
        return f"({a} / ({b} + 10))"
    if shape == 2:
        return f"({a} {rng.choice(['>', '<', '>=', '<=', '=', '!='])} {b})"
    if shape == 3:
        return f"({a} {rng.choice(['&', '|'])} {b})"
    if shape == 4:
        return f"if({a} > 1, {b}, {gen_expr(rng, depth + 1)})"
    if shape == 5:
        return f"{rng.choice(['max', 'min'])}({a}, {b})"
    return f"sqrt(abs({a}))"


def test_expression_compiler_agrees_with_reference_semantics(spark):
    rng = random.Random(7)
    env = {"x": 3.0, "y": -1.5, "z": 0.25}
    df = spark.createDataFrame([Row(**env)])
    exprs = [gen_expr(rng) for _ in range(40)]
    cols = [
        F.expr(compile_expression(e, schema_resolver(df))).alias(f"e{i}")
        for i, e in enumerate(exprs)
    ]
    row = df.select(*cols).collect()[0]
    for i, e in enumerate(exprs):
        expected = py_eval(e, env)
        got = row[f"e{i}"]
        assert got == pytest.approx(expected, rel=1e-9, abs=1e-9), f"expr: {e}"
