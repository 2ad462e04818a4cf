"""`dsir` transform: Data Selection with Importance Resampling.

Training-data-pipeline extension (BASELINE.json north star).  DSIR
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling") selects raw-corpus documents that look like a small target
domain: estimate bag-of-hashed-ngrams distributions p (target) and q
(raw), score each document by its log importance weight

    w(doc) = sum over grams g of [ log p_hash(g) - log q_hash(g) ]

and resample by w (Gumbel top-k == sampling without replacement
proportional to exp(w)).

Spark-first shape:
  1. Hashed-gram counts for target and corpus: explode + 256-bucket md5
     feature hashing (the same engine-portable bucket the quality
     classifier uses — first two md5 hex chars), groupBy count.  Both
     aggregations combine map-side into <= B rows; collecting B counts
     driver-side is planning-scale, not data-scale.
  2. lambda_b = log((t_b + a)/(T + aB)) - log((c_b + a)/(C + aB)) as a
     256-double literal array in the plan: per-doc scoring is then a
     pure Column fold — map-only, zero Python, zero shuffle, and ANY
     engine reproduces the scores bit-for-bit (the DuckDB oracle does).
  3. Selection modes: `scores` (default — append the weight column),
     `threshold` (keep w >= minWeight; map-only), `top` (exact global
     top-k via TakeOrdered — per-partition heads merged on the driver,
     guarded by maxRows like the limit module).

Optional deterministic Gumbel perturbation (`gumbel: true`): u from the
md5 of (salt || doc id) maps to (0,1), g = -ln(-ln(u)) — reproducible
across engines and runs, which makes the resampling auditable.

Bigger feature spaces (DSIR's paper uses 10k buckets) belong in a
broadcast + pandas UDF; 256 buckets is the engine-portable formulation
and what the correctness oracle replays.  Scale: two B-bounded
aggregations over corpus+target, then one map-only pass.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipeline_spark.operators.textstats import _hex_char_val, _toks
from pipeline_spark.registry import KIND_TRANSFORM, ModuleContext, module

_BUCKETS = 256


def _grams(col: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) of the normalized text; n=1
    is the token array itself.  Documents shorter than n grams yield an
    empty array (guarded: sequence(1, 0) would count DOWN in Spark and
    feed slice() an invalid start)."""
    toks = _toks(F.coalesce(col, F.lit("")))
    if n == 1:
        return toks
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bucket(g: Column) -> Column:
    h = F.md5(g)
    return (
        _hex_char_val(F.substring(h, 1, 1)) * 16 + _hex_char_val(F.substring(h, 2, 1))
    ).cast("int")


def _bucketed(df: DataFrame, field: str, n: int, tag: int) -> DataFrame:
    return (
        df.select(F.explode(_grams(F.col(field).cast("string"), n)).alias("g"))
        .select(_bucket(F.col("g")).alias("b"))
        .groupBy("b")
        .count()
        .withColumn("t", F.lit(tag))
    )


def _bucket_counts_pair(
    corpus: DataFrame, cfield: str, target: DataFrame, tfield: str, n: int
) -> tuple[dict[int, int], dict[int, int]]:
    """Both bucket-count maps from ONE job (r15): the tagged union lets
    the two ≤256-row aggregations share a single collect — and at scale
    the two scans run concurrently instead of back to back."""
    rows = (
        _bucketed(corpus, cfield, n, 0)
        .unionByName(_bucketed(target, tfield, n, 1))
        .collect()
    )
    corpus_counts = {r["b"]: r["count"] for r in rows if r["t"] == 0}
    target_counts = {r["b"]: r["count"] for r in rows if r["t"] == 1}
    return corpus_counts, target_counts


def dsir_lambda(
    target_counts: dict[int, int],
    corpus_counts: dict[int, int],
    alpha: float = 1.0,
    buckets: int = _BUCKETS,
) -> list[float]:
    """Per-bucket log importance weights with additive smoothing."""
    t_total = sum(target_counts.values())
    c_total = sum(corpus_counts.values())
    out = []
    for b in range(buckets):
        lp = math.log((target_counts.get(b, 0) + alpha) / (t_total + alpha * buckets))
        lq = math.log((corpus_counts.get(b, 0) + alpha) / (c_total + alpha * buckets))
        out.append(lp - lq)
    return out


def dsir_weight_col(col: Column, lam: list[float], n: int) -> Column:
    """Document log importance weight as a pure Column fold."""
    warr = F.array(*[F.lit(float(w)) for w in lam])
    return F.aggregate(
        F.transform(_grams(col, n), lambda g: F.element_at(warr, _bucket(g) + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def gumbel_key_col(weight: Column, id_col: Column, salt: str) -> Column:
    """weight + Gumbel(0,1) noise, deterministically from md5(salt||id):
    u = (first 8 md5 hex chars as int + 0.5) / 2^32, g = -ln(-ln(u))."""
    h = F.md5(F.concat(F.lit(salt), id_col.cast("string")))
    u32 = F.lit(0).cast("double")
    for i in range(8):
        u32 = u32 * 16 + _hex_char_val(F.substring(h, i + 1, 1))
    u = (u32 + F.lit(0.5)) / F.lit(float(1 << 32))
    return weight + (-F.log(-F.log(u)))


@module("dsir", kind=KIND_TRANSFORM)
def dsir_transform(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    corpus = ctx.inputs[0]
    if len(ctx.inputs) > 1:
        target = ctx.inputs[1]
    elif ctx.side_inputs:
        target = next(iter(ctx.side_inputs.values()))
    else:
        raise ValueError(
            "dsir: needs a target-domain dataset as a second input or a "
            "sideInput"
        )
    field = p.get("field", "text")
    target_field = p.get("targetField", field)
    n = int(p.get("ngram", 1))
    if n < 1:
        raise ValueError(f"dsir: ngram must be >= 1, got {n}")
    alpha = float(p.get("smoothing", 1.0))
    if alpha <= 0:
        raise ValueError(f"dsir: smoothing must be > 0, got {alpha}")
    corpus_counts, target_counts = _bucket_counts_pair(
        corpus, field, target, target_field, n
    )
    lam = dsir_lambda(target_counts, corpus_counts, alpha)
    weight_field = p.get("weightField", "dsir_weight")
    score = dsir_weight_col(F.col(field).cast("string"), lam, n)
    out = corpus.withColumn(weight_field, score)

    key = F.col(weight_field)
    if p.get("gumbel"):
        id_field = p.get("idField")
        if not id_field:
            raise ValueError("dsir: gumbel resampling needs idField")
        key_field = p.get("keyField", "dsir_key")
        out = out.withColumn(
            key_field,
            gumbel_key_col(F.col(weight_field), F.col(id_field), str(p.get("salt", ""))),
        )
        key = F.col(key_field)

    mode = str(p.get("select", "scores")).lower()
    if mode == "scores":
        return {"": out}
    if mode == "threshold":
        if p.get("minWeight") is None:
            raise ValueError("dsir: select=threshold needs minWeight")
        return {"": out.filter(key >= float(p["minWeight"]))}
    if mode == "top":
        k = int(p.get("k", 0))
        if k <= 0:
            raise ValueError("dsir: select=top needs k > 0")
        max_rows = int(p.get("maxRows", 10_000_000))
        if k > max_rows:
            raise ValueError(
                f"dsir: k={k} exceeds maxRows={max_rows} — the global top-k "
                "merges per-partition heads on the driver; raise maxRows "
                "explicitly or use select=threshold for very large cuts"
            )
        return {"": out.orderBy(key.desc()).limit(k)}
    raise ValueError(f"dsir: unknown select mode '{mode}'")
