"""Vector math as pure Column expressions over array<float|double> columns.

Used by similarity search and embedding near-dup.  All JVM-side
(zip_with/aggregate are codegen'd higher-order functions) — no Python UDF,
no Arrow transfer, so a 100 TB scan of embeddings stays in Tungsten.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
