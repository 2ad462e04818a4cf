"""Pin the SQL-text data_filter_condition against the Column
construction it replaced: identical analyzed trees and rows for every
supported op, key shape and literal type."""

import datetime
import re

import pytest
from pyspark.sql import functions as F

from pipeline_spark.sources.delta_native import (
    data_filter_condition,
    data_filter_sql,
)


def _column_path(dfilter):
    conds = []
    for f in dfilter:
        key, op = f.get("key"), str(f.get("op", "=")).lower()
        want = f.get("value")
        c = F.col(key)
        if op in ("=", "=="):
            cond = c == F.lit(want)
        elif op == "!=":
            cond = c != F.lit(want)
        elif op == "<":
            cond = c < F.lit(want)
        elif op == "<=":
            cond = c <= F.lit(want)
        elif op == ">":
            cond = c > F.lit(want)
        elif op == ">=":
            cond = c >= F.lit(want)
        elif op == "in":
            cond = c.isin(
                list(want if isinstance(want, (list, tuple)) else [want])
            )
        elif op in ("isnull", "is_null"):
            cond = c.isNull()
        elif op in ("isnotnull", "is_not_null"):
            cond = c.isNotNull()
        conds.append(cond)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _norm(plan):
    ids = {}

    def sub(m):
        ids.setdefault(m.group(1), f"E{len(ids)}")
        return "#" + ids[m.group(1)]

    return re.sub(r"#(\d+)", sub, plan)


def test_sql_text_matches_column_tree(spark):
    df = spark.range(100).selectExpr(
        "id", "CAST(id AS DOUBLE) x", "CAST(id AS STRING) s",
        "id % 2 = 0 AS b",
    )
    cases = [
        [{"key": "id", "op": "<", "value": 50}],
        [{"key": "id", "op": ">=", "value": 10},
         {"key": "x", "op": "<=", "value": 42.5},
         {"key": "s", "op": "!=", "value": "it's"}],
        [{"key": "s", "op": "in", "value": ["a", "b'c"]},
         {"key": "id", "op": "=", "value": 3}],
        [{"key": "x", "op": "isnull"},
         {"key": "b", "op": "=", "value": True}],
        [{"key": "s", "op": "is_not_null"}],
    ]
    for dfilter in cases:
        a = df.where(data_filter_condition(dfilter))
        b = df.where(_column_path(dfilter))
        pa = _norm(a._jdf.queryExecution().analyzed().toString())
        pb = _norm(b._jdf.queryExecution().analyzed().toString())
        assert pa == pb, dfilter
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )


def test_exotic_keys_dates_and_empty_in_match_column_tree(spark):
    df = spark.range(6).selectExpr(
        "id", "CAST(id AS STRING) AS `weird col`",
        "date_add(DATE'2024-01-01', CAST(id AS INT)) AS d",
        "named_struct('b', id) AS a",
        "IF(id = 0, NULL, id) AS n",
    )
    cases = [
        [{"key": "weird col", "op": "=", "value": "3"}],
        [{"key": "d", "op": ">=", "value": datetime.date(2024, 1, 4)}],
        [{"key": "a.b", "op": "in", "value": [1, 2]}],
        [{"key": "n", "op": "in", "value": []}],
    ]
    for dfilter in cases:
        a = df.where(data_filter_condition(dfilter))
        b = df.where(_column_path(dfilter))
        if dfilter[0]["value"] != []:
            pa = _norm(a._jdf.queryExecution().analyzed().toString())
            pb = _norm(b._jdf.queryExecution().analyzed().toString())
            assert pa == pb, dfilter
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        ), dfilter
    # Column isin([]) is false on a NULL key too: NOT of it keeps every row
    kept = df.where(~F.coalesce(data_filter_condition(cases[-1]), F.lit(False)))
    assert kept.count() == 6


def test_unknown_op_raises():
    with pytest.raises(ValueError, match="unknown op 'between'"):
        data_filter_sql([{"key": "k", "op": "between"}])
    # dotted keys keep F.col's nested-access semantics
    assert data_filter_sql([{"key": "a.b", "op": "=", "value": 1}]) == (
        "(`a`.`b` = 1)"
    )
