"""`dedup` transform: exact + near-duplicate removal at corpus scale.

Beyond the reference's surface (a training-data pipeline requirement,
BASELINE.json north star).  Methods, all shuffle-planned for 100 TB:

  exact          hash-groupBy on content column(s); keeps the row with the
                 smallest ``idField``.  One shuffle on a 64-bit hash — never
                 groups by the raw (potentially megabyte) text.
  minhash_lsh    shingle → k minhashes (vectorized pandas UDF, h1+i*h2
                 family over deterministic siphash) → b bands → candidate
                 pairs bucket-join → Jaccard-estimate filter.  The band
                 bucket join is the scale path: candidate generation is
                 linear in corpus size, never all-pairs.
  simhash        64-bit signature from per-token hash bit-majority
                 (vectorized pandas UDF); near-dups = equal signature.
  ngram_jaccard  exact n-gram Jaccard via explode + pair-count — exact but
                 quadratic in bucket size; kept as the correctness oracle
                 for the LSH variants.
  embedding      cosine near-dup over an embedding column (delegated to
                 functions/vector.py expressions).

Exact dedup and banding hash with Spark builtins (xxhash64) JVM-side;
minhash/simhash signatures use Arrow-batched numpy (higher-order-function
Column expressions are interpreted, not codegen'd — measured 10-30×
slower than the vectorized UDF for this workload).  All hashes are
deterministic across runs and machines.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipeline_spark.functions.graph import connected_components
from pipeline_spark.functions.partitioning import spread
from pipeline_spark.functions.vector import cosine
from pipeline_spark.operators.tokenize import hashed_word_shingles, word_shingles
from pipeline_spark.registry import KIND_TRANSFORM, ModuleContext, module


def normalize_text(col: Column) -> Column:
    """Canonical text view for dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def exact_dedup(df: DataFrame, fields: list[str], id_field: str) -> DataFrame:
    """Keep one row per distinct content (smallest id wins).

    Shuffles on xxhash64(content) — constant-width key regardless of
    document size; the winner per group is min_by, a single-pass partial
    aggregate (no window/sort needed).
    """
    content_hash = F.xxhash64(*[F.col(f) for f in fields])
    agg = (
        df.groupBy(content_hash.alias("__h__"))
        .agg(F.min(F.col(id_field)).alias("__keep__"))
    )
    return (
        df.join(
            agg,
            (content_hash == agg["__h__"]) & (F.col(id_field) == agg["__keep__"]),
            "inner",
        )
        .drop("__h__", "__keep__")
    )


_HASH_KEY_1 = "0123456789abcdef"
_HASH_KEY_2 = "fedcba9876543210"


def minhash_signature_udf(k: int, shingle_size: int):
    """Vectorized MinHash signature as an Arrow-batched pandas UDF.

    Why a UDF here: k seeded hashes over per-row shingle arrays are
    higher-order-function expressions in pure Catalyst, which are
    INTERPRETED (not codegen'd) — measured ~20s for 5k docs even
    single-pass.  numpy computes the same signatures via the standard
    h_i = h1 + i*h2 linear-combination family in <1s, and pandas'
    siphash (`pd.util.hash_array` with fixed keys) is deterministic
    across runs and machines.  Scale posture: map-only, Arrow-batched,
    no shuffle.
    """
    # odd multipliers for the rolling shingle-hash combinations
    _C = np.array(
        [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
         0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63, 0x2545F4914F6CDD1D],
        dtype=np.uint64,
    )

    @F.pandas_udf("array<long>")
    def sig(text: pd.Series) -> pd.Series:
        empty = np.full(k, np.iinfo(np.int64).max, dtype=np.int64)
        # fully vectorized per Arrow batch: tokenize via pandas C paths,
        # hash ALL tokens once, derive shingle hashes as rolling linear
        # combinations of consecutive token hashes (never building shingle
        # strings), then segmented min per document via reduceat.
        toks = text.fillna("").str.lower().str.split()
        lens = toks.str.len().to_numpy(dtype=np.int64)
        n_shingles = np.maximum(lens - shingle_size + 1, 0)
        total = int(n_shingles.sum())
        if total == 0:
            return pd.Series([empty] * len(text))
        flat_tokens = np.array(
            [t for row in toks for t in row], dtype=object
        )
        ht1 = pd.util.hash_array(flat_tokens, hash_key=_HASH_KEY_1)
        ht2 = pd.util.hash_array(flat_tokens, hash_key=_HASH_KEY_2)

        # shingle hash = sum_j C[j] * token_hash[i+j], masked to stay
        # inside each document's token span
        tok_starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
        sh_rows = np.repeat(np.arange(len(text)), n_shingles)
        sh_local = np.concatenate([np.arange(n) for n in n_shingles if n > 0])
        sh_flat = tok_starts[sh_rows] + sh_local  # index of shingle's first token
        h1 = np.zeros(total, dtype=np.uint64)
        h2 = np.zeros(total, dtype=np.uint64)
        for j in range(shingle_size):
            h1 += _C[j % len(_C)] * ht1[sh_flat + j]
            h2 += _C[(j + 1) % len(_C)] * ht2[sh_flat + j]

        starts = np.concatenate(([0], np.cumsum(n_shingles)))[:-1]
        nonempty = n_shingles > 0
        seg_starts = starts[nonempty]
        # row-wise with preallocated buffers: numpy's 2D uint64 broadcast
        # (h1[None,:] + ii[:,None]*h2[None,:]) hits a ~1000x slower
        # iterator path — measured 33s vs 0.03s for the same op count
        mins = np.empty((k, len(seg_starts)), dtype=np.uint64)
        tmp = np.empty(total, dtype=np.uint64)
        for i in range(k):
            np.multiply(h2, np.uint64(i), out=tmp)
            np.add(tmp, h1, out=tmp)
            mins[i] = np.minimum.reduceat(tmp, seg_starts)
        out_arr = np.full((len(text), k), np.iinfo(np.int64).max, dtype=np.int64)
        out_arr[nonempty] = mins.T.view(np.int64)
        return pd.Series(list(out_arr))

    return sig


def simhash_signature_udf():
    """Vectorized 64-bit SimHash (bit-majority of token hashes)."""
    bits = np.arange(64, dtype=np.uint64)

    @F.pandas_udf("long")
    def sig(text: pd.Series) -> pd.Series:
        toks = text.fillna("").str.lower().str.split()
        lens = toks.str.len().to_numpy(dtype=np.int64)
        out = np.zeros(len(text), dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series(out)
        flat = np.array([t for row in toks for t in row], dtype=object)
        h = pd.util.hash_array(flat, hash_key=_HASH_KEY_1)
        starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
        nonempty = lens > 0
        seg_starts = starts[nonempty]
        seg_lens = lens[nonempty]
        # per-bit loop with buffers — 2D uint64 broadcasting is ~1000x
        # slower in numpy (see minhash note above)
        packed = np.zeros(len(seg_starts), dtype=np.uint64)
        tmp = np.empty(len(h), dtype=np.uint64)
        for b in range(64):
            np.right_shift(h, np.uint64(b), out=tmp)
            np.bitwise_and(tmp, np.uint64(1), out=tmp)
            ones = np.add.reduceat(tmp, seg_starts)
            packed |= (ones * 2 > seg_lens).astype(np.uint64) << np.uint64(b)
        out[nonempty] = packed.astype(np.int64)
        return pd.Series(out)

    return sig


def band_keys(with_sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """``(doc, band, bhash)`` rows: one per band of each ``sig``, hashing
    that band's ``rows`` minhashes — one SQL text, not ``bands`` × 4
    Column builds."""
    keys = ", ".join(
        f"struct({b} AS band, xxhash64(slice(sig, {b * rows + 1}, {rows})) AS bhash)"
        for b in range(bands)
    )
    return with_sig.selectExpr("doc", f"explode(array({keys})) AS bk").select(
        "doc", "bk.band", "bk.bhash"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_field: str,
    id_field: str,
    *,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs with estimated Jaccard ≥ threshold.

    Plan shape (scales linearly in corpus size):
      1. per-doc signature (map-only)
      2. explode to `bands` rows per doc, groupless self-join on
         (band_id, band_hash) — the ONLY shuffle, on a small int key pair
      3. estimated Jaccard = fraction of matching minhashes; filter.
    """
    rows = num_hashes // bands
    sig_udf = minhash_signature_udf(num_hashes, shingle_size)
    # persisted: both the banding pass and the signature join below read
    # it — without persist the UDF pipeline would re-execute per consumer.
    # Size: rows × (8B id + 8B×num_hashes) ≈ 0.5 KB/doc.
    with_sig = spread(df).select(
        F.col(id_field).alias("doc"), sig_udf(F.col(text_field)).alias("sig")
    ).persist()

    # candidate generation shuffles ONLY (doc, band, bhash) ints — never
    # the 64-long signature arrays (shuffling + sorting those measured 8×
    # slower); pairs are enumerated bucket-locally, no self-join.
    banded = band_keys(with_sig, bands, rows)

    buckets = (
        banded.groupBy("band", "bhash")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ds"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ds"), i + F.lit(2), F.size("ds")),
                            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )

    sa = with_sig.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = with_sig.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    cand = pairs.join(sa, "doc_a").join(sb, "doc_b")

    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return cand.select("doc_a", "doc_b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )




def exact_jaccard_on_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_field: str,
    id_field: str,
    *,
    ngram: int,
    threshold: float,
) -> DataFrame:
    """Exact n-gram Jaccard for an already-small candidate pair set.

    The LSH stages (minhash banding / simhash pigeonhole) bound the
    candidate count by true-duplicate density, so verification cost is
    proportional to duplicates, not corpus size: the corpus is semi-joined
    down to docs that appear in ANY candidate pair BEFORE the (expensive)
    gram arrays are computed — tokenization runs once over the candidate
    doc set, never over the full corpus.  This turns an approximate
    candidate generator into an exact near-dup detector whose output is
    SQL-reproducible (the correctness oracle recomputes the same pair set
    from scratch).
    """
    pairs = pairs.select("doc_a", "doc_b").persist()
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    grams = F.array_distinct(word_shingles(tokens(F.col(text_field)), ngram))
    g = (
        df.join(cand_docs, df[id_field] == cand_docs["doc"], "left_semi")
        .select(F.col(id_field).alias("doc"), grams.alias("grams"))
        .persist()
    )
    ga = g.select(F.col("doc").alias("doc_a"), F.col("grams").alias("ga"))
    gb = g.select(F.col("doc").alias("doc_b"), F.col("grams").alias("gb"))
    return (
        pairs
        .join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ga", "gb")).cast("double")
            / F.size(F.array_union("ga", "gb")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_candidate_pairs(
    df: DataFrame,
    text_field: str,
    id_field: str,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs by SimHash hamming distance ≤ max_hamming.

    Multi-index pigeonhole (the standard simhash search trick): split the
    64-bit signature into ``max_hamming+1`` blocks — any pair within
    hamming K must agree EXACTLY on at least one block — bucket-join on
    (block, value) ints, then filter bucket-local candidates by true
    hamming (``bit_count(a^b)``).  Signature pass is map-only; the only
    shuffle carries (doc, block, value) ints; candidate count scales with
    near-dup density (plus 2^-w random block collisions), never N².
    """
    sig_udf = simhash_signature_udf()
    with_sig = spread(df).select(
        F.col(id_field).alias("doc"), sig_udf(F.col(text_field)).alias("sig")
    ).persist()

    nblocks = min(max_hamming + 1, 16)
    base_w, extra = divmod(64, nblocks)
    blocks, shift = [], 0
    for i in range(nblocks):
        w = base_w + (1 if i < extra else 0)
        mask = (1 << w) - 1
        blocks.append(
            F.struct(
                F.lit(i).alias("blk"),
                F.expr(f"shiftrightunsigned(sig, {shift})").bitwiseAND(
                    F.lit(mask)
                ).alias("val"),
            )
        )
        shift += w

    banded = with_sig.select(
        "doc", F.explode(F.array(*blocks)).alias("b")
    ).select("doc", "b.blk", "b.val")
    buckets = (
        banded.groupBy("blk", "val")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ds"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ds"), i + F.lit(2), F.size("ds")),
                            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = with_sig.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = with_sig.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_field: str,
    id_field: str,
    *,
    ngram: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact word n-gram Jaccard similarity for pairs sharing ≥1 n-gram.

    explode(distinct ngrams) → bucket docs per gram hash (one shuffle) →
    bucket-local pair enumeration → pair overlap counts →
    |A∩B| / (|A|+|B|-|A∩B|).  Exact (the oracle for LSH) but pair fan-out
    is quadratic inside hot n-grams — at 100 TB use minhash_lsh and keep
    this for validation samples.

    ``max_doc_freq`` is the hot-gram guard: grams shared by more than
    that many documents are dropped (a per-bucket size filter — standard
    stop-gram practice).  A gram in 1 % of a 100 TB corpus would
    otherwise fan out to ~10¹⁴ pair rows; a df-capped gram contributes
    ≤ max_doc_freq² and carries ~zero Jaccard signal for near-dup pairs
    anyway.  Overlap counts stay exact for surviving grams; set ``None``
    to disable (true exactness on validation samples).
    """
    # Grams live as xxhash64 fingerprints end to end (hashed_word_shingles
    # — hash of the pre-hashed token slice, never the joined string): the
    # shuffle carries 8-byte ints and array_distinct dedups longs instead
    # of strings (collision odds ~n²/2⁶⁴, immaterial for dedup).
    # Persisted because BOTH the bucket pass and the per-doc size read
    # consume it — without the cache the tokenize pipeline runs twice
    # (two shuffles on different keys can't reuse one exchange).  The
    # cache holds (doc, hashed-gram array, n): int arrays, ~8 B/gram.
    # r15: |distinct grams| per doc is exactly F.size(gs) — explode
    # emits one row per array element — so the former
    # exploded.groupBy(doc).count() pass (a second scan of the cache
    # plus a full shuffle+aggregate) is computed for free pre-explode.
    # NO pre-cache filter(size > 0): Catalyst pushed it below the spread
    # exchange, evaluating the whole shingle expression a second time per
    # doc in a non-codegen Filter (measured 10× slower cache build);
    # explode drops empty arrays and the size joins are inner, so
    # zero-gram docs never surface either way.
    th = F.transform(tokens(F.col(text_field)), lambda t: F.xxhash64(t))
    staged = spread(df).select(F.col(id_field).alias("doc"), th.alias("__th__"))
    hashed = (
        staged.select(
            "doc",
            F.array_distinct(hashed_word_shingles(F.col("__th__"), ngram)).alias("gs"),
        )
        .select("doc", "gs", F.size("gs").alias("n"))
        .persist()
    )
    exploded = hashed.select("doc", F.explode("gs").alias("g"))
    sizes = hashed.select("doc", "n")
    # ONE shuffle: bucket docs per gram, then enumerate co-occurrence
    # pairs bucket-locally (same shape as minhash banding — measured
    # faster than a self-join on g, which shuffles the exploded grams
    # twice and re-executes the tokenize pipeline per join side).  The
    # hot-gram cap is a per-bucket size filter, free at this point;
    # map-side partial aggregation absorbs the skew of hot grams.
    buckets = (
        exploded.groupBy("g")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_doc_freq is not None:
        buckets = buckets.filter(F.size("ds") <= max_doc_freq)
    # bucket-local pair enumeration: Arrow-batched numpy triu_indices.
    # The previous nested-HOF Column form produced identical pairs but
    # ran in Catalyst's INTERPRETED expression path (higher-order
    # lambdas don't codegen) — measured ~3x slower at sf1 on the same
    # plan shape.  Output size is C(|bucket|, 2) either way; ds is
    # sort_array'd, so triu (k=1) preserves doc_a < doc_b.
    import numpy as np
    import pandas as pd

    id_dt = df.schema[id_field].dataType.simpleString()

    # flush threshold bounds live memory: an Arrow batch of hot buckets
    # could otherwise accumulate rows-per-batch × C(maxDocFreq, 2) pairs
    # before a single yield
    _FLUSH_PAIRS = 2_000_000

    def gen_pairs(batches):
        for pdf in batches:
            a_out, b_out, n_pairs = [], [], 0
            for ds in pdf["ds"]:
                arr = np.asarray(ds)
                n = len(arr)
                if n < 2:
                    continue
                i, j = np.triu_indices(n, k=1)
                a_out.append(arr[i])
                b_out.append(arr[j])
                n_pairs += len(i)
                if n_pairs >= _FLUSH_PAIRS:
                    yield pd.DataFrame(
                        {"doc_a": np.concatenate(a_out),
                         "doc_b": np.concatenate(b_out)}
                    )
                    a_out, b_out, n_pairs = [], [], 0
            if a_out:
                yield pd.DataFrame(
                    {"doc_a": np.concatenate(a_out),
                     "doc_b": np.concatenate(b_out)}
                )

    overlap = (
        buckets.select("ds")
        .mapInPandas(gen_pairs, schema=f"doc_a {id_dt}, doc_b {id_dt}")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    out = (
        overlap.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("overlap").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("overlap")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def embedding_neardup_pairs_bucketed(
    df: DataFrame,
    vec_field: str,
    id_field: str,
    *,
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs — the 100 TB path.

    SRP-bucket first, all-pairs matmul only WITHIN buckets: each vector is
    hashed to ``tables`` independent sign-random-projection signatures
    (one vectorized matmul pass, map-only), exploded to (table, sig) rows,
    and grouped — the only shuffle, on a small int key pair.  Candidate
    work is Σ bucket² ≈ N²·tables/2^bits instead of N², with no driver
    materialization and no broadcast of the corpus.  Near-identical
    vectors (cos ≥ t) agree on each hyperplane with prob 1-θ/π, so
    ``tables`` independent tables push recall → 1 (deterministic given
    ``seed``).  Within a bucket the cosine matrix is computed in blocked
    BLAS, rows sorted by id so emitted pairs satisfy doc_a < doc_b.
    """
    import pyspark.sql.types as T

    from pipeline_spark.operators.similarity import srp_signatures_udf

    sig_udf = srp_signatures_udf(None, bits, tables, seed)
    base = spread(df).select(
        F.col(id_field).alias("id"),
        F.col(vec_field).alias("v"),
        F.posexplode(sig_udf(F.col(vec_field))).alias("table", "sig"),
    )

    schema = T.StructType(
        [
            T.StructField("doc_a", T.LongType()),
            T.StructField("doc_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cosine": []}).astype(
                {"doc_a": np.int64, "doc_b": np.int64, "cosine": np.float64}
            )
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        outs = []
        # blocked matmul bounds peak memory to block×bucket doubles even
        # in a skewed bucket
        block = 2048
        for s in range(0, len(ids), block):
            e = min(s + block, len(ids))
            cos = (mat[s:e] @ mat.T) / (norms[s:e, None] * norms[None, :])
            keep = (cos >= threshold) & (ids[s:e, None] < ids[None, :])
            ai, bi = np.nonzero(keep)
            outs.append(
                pd.DataFrame(
                    {"doc_a": ids[s + ai], "doc_b": ids[bi], "cosine": cos[ai, bi]}
                )
            )
        return pd.concat(outs, ignore_index=True)

    # groupBy().applyInPandas is the right substrate HERE (unlike
    # matchRecognize's grouped_apply_in_pandas): embedding rows are
    # byte-heavy (KB-scale vectors) and the per-bucket work is a blocked
    # BLAS matmul, so shuffle bytes ∝ compute and AQE's byte-based
    # partition sizing allocates cores correctly; a width-pinned
    # mapInPandas pass measured ~1.5× SLOWER at bench scale (fixed
    # per-task overhead × width dominating the tiny matmuls)
    return (
        base.groupBy("table", "sig")
        .applyInPandas(bucket_pairs, schema=schema)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_field: str,
    id_field: str,
    *,
    threshold: float = 0.95,
    bands: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above threshold — exact all-pairs.

    Validation-scale oracle for ``embedding_neardup_pairs_bucketed`` (the
    default scale path): broadcasts the whole corpus, so it is gated by the
    dedup module behind ``maxExactRows`` and refuses to run beyond it.
    """
    import pyspark.sql.types as T

    spark = df.sparkSession
    # Broadcast one side as a dense numpy matrix; stream the other side
    # through a blocked matmul.  A Column-expression nested-loop join
    # interprets a 64-op fold per pair (~100s for 2M pairs); the matmul
    # does the identical double arithmetic in BLAS.  The broadcast side
    # must fit executor memory — beyond that, LSH-bucket first
    # (similarity.py srp buckets) and run this within buckets.
    rows = df.select(F.col(id_field).alias("id"), F.col(vec_field).alias("v")).collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)
    b_norms = spark.sparkContext.broadcast(norms)

    schema = T.StructType(
        [
            T.StructField("doc_a", T.LongType()),
            T.StructField("doc_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def block_pairs(batches):
        all_ids, all_mat, all_norms = b_ids.value, b_mat.value, b_norms.value
        for pdf in batches:
            if not len(pdf):
                continue
            a_ids = pdf["__id__"].to_numpy(dtype=np.int64)
            a_mat = np.array(list(pdf["__v__"]), dtype=np.float64)
            a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
            cos = (a_mat @ all_mat.T) / (a_norms[:, None] * all_norms[None, :])
            keep = (cos >= threshold) & (a_ids[:, None] < all_ids[None, :])
            ai, bi = np.nonzero(keep)
            yield pd.DataFrame(
                {"doc_a": a_ids[ai], "doc_b": all_ids[bi], "cosine": cos[ai, bi]}
            )

    narrowed = spread(df).select(
        F.col(id_field).alias("__id__"), F.col(vec_field).alias("__v__")
    )
    return narrowed.mapInPandas(block_pairs, schema=schema)


def semantic_dedup(
    df: DataFrame,
    vec_field: str,
    id_field: str,
    *,
    clusters: int = 256,
    threshold: float = 0.95,
    iterations: int = 0,
    sample_size: int = 65_536,
    seed: int = 42,
    max_cluster_size: int = 50_000,
    output_assignments: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): drop semantically redundant vectors.

    Assign every vector to its nearest centroid by cosine, then WITHIN
    each cluster drop any vector that has a lower-id cluster-mate with
    cosine above ``threshold`` (the paper's greedy keep-one-per-
    neighborhood, made deterministic by id order; no transitive
    chaining — see ``drop_cluster_dupes`` for the closure variant).

    ``iterations=0`` seeds centroids deterministically from the
    ``clusters`` lowest-id vectors and skips Lloyd refinement — fully
    reproducible in plain SQL (the oracle path).  ``iterations>0`` runs
    sample-bounded k-means on the driver (same contract as IVF training).

    Scale: assignment is one Arrow-batched matmul per batch (centroids
    ship in the closure, cells × dim floats); the within-cluster stage
    shuffles (id, cluster, vector) once and computes an O(s²) similarity
    matrix per cluster — the paper's inherent cost, bounded by
    ``max_cluster_size`` fail-fast (s × dim floats per task must fit;
    raise ``clusters`` to shrink s).
    """
    from pipeline_spark.functions.grouped_apply import grouped_apply_in_pandas
    from pipeline_spark.operators.similarity import _cell_assign_udf, _train_centroids

    if clusters < 1:
        raise ValueError(f"semantic dedup: clusters must be >= 1, got {clusters}")
    if not (-1.0 <= threshold <= 1.0):
        raise ValueError(
            f"semantic dedup: threshold is a cosine, must be in [-1, 1], "
            f"got {threshold}"
        )
    if iterations > 0:
        centroids = _train_centroids(
            df, vec_field, n_cells=clusters, sample_size=sample_size,
            iters=iterations, seed=seed,
        )
    else:
        rows = (
            df.select(id_field, vec_field)
            .orderBy(F.col(id_field).asc())
            .limit(clusters)
            .toPandas()[vec_field]
            .tolist()
        )
        if not rows:
            return df.select(
                F.col(id_field), F.lit(0).alias("cluster")
            ).limit(0) if output_assignments else df.limit(0)
        centroids = np.array(rows, dtype=np.float64)

    assign = _cell_assign_udf(centroids, 1)
    keyed = spread(df).select(
        F.col(id_field).alias("__id__"), F.col(vec_field).alias("__v__")
    ).withColumn("cluster", assign(F.col("__v__"))[0])
    if output_assignments:
        return keyed.select(F.col("__id__").alias(id_field), "cluster")

    def drop_redundant(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_cluster_size:
            raise ValueError(
                f"semantic dedup cluster {pdf['cluster'].iloc[0]} holds "
                f"{len(pdf)} vectors > maxClusterSize={max_cluster_size}; "
                f"raise 'clusters' to shrink cluster fan-in"
            )
        pdf = pdf.sort_values("__id__", kind="mergesort").reset_index(drop=True)
        mat = np.array(list(pdf["__v__"]), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ mat.T
        # drop j iff some i < j (id order) has sims[i, j] > threshold
        upper = np.triu(sims, k=1)
        drop = (upper > threshold).any(axis=0)
        return pdf.loc[~drop, ["__id__", "cluster"]]

    kept = grouped_apply_in_pandas(
        keyed,
        ["cluster"],
        drop_redundant,
        f"__id__ {df.schema[id_field].dataType.simpleString()}, cluster int",
    )
    return df.join(
        kept.select(F.col("__id__").alias(id_field)), id_field, "left_semi"
    )


def cluster_labels(pairs: DataFrame, id_alias: str = "doc_id") -> DataFrame:
    """Near-dup pairs → ``(id, cluster_id)`` via connected components.

    The cluster id is the component's minimum doc id (deterministic).
    Only docs appearing in at least one pair are emitted — unpaired docs
    are trivially their own cluster and joining them in would just
    re-emit the corpus.
    """
    cc = connected_components(pairs, "doc_a", "doc_b")
    return cc.select(
        F.col("node").alias(id_alias), F.col("component").alias("cluster_id")
    )


def drop_cluster_dupes(df: DataFrame, pairs: DataFrame, id_field: str) -> DataFrame:
    """Keep one doc per near-dup cluster (the component-minimum id).

    Pair-local dropping (remove every ``doc_b``) under-merges on
    transitive duplicates — e.g. pairs (b,c),(a,c) with a<b<c keep b even
    though {a,b,c} is one group.  The transitive closure is the correct
    semantics; anti-join out every node that is not its component min.
    """
    dupes = (
        connected_components(pairs, "doc_a", "doc_b")
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_field))
    )
    return df.join(dupes, id_field, "left_anti")


@module("dedup", kind=KIND_TRANSFORM)
def dedup_transform(ctx: ModuleContext) -> dict[str, DataFrame]:
    p: dict[str, Any] = ctx.params
    df = ctx.input
    method = str(p.get("method", "exact")).lower()
    id_field = p.get("idField", "doc_id")
    text_field = p.get("field") or p.get("textField", "text")

    if method == "exact":
        fields = p.get("fields") or [text_field]
        if df.isStreaming:
            # streaming-native semantics: FIRST arrival wins (batch mode
            # keeps the min id — a documented divergence; "first" is the
            # only meaningful winner in an unbounded stream).  State is
            # bounded by the watermark: dropDuplicatesWithinWatermark
            # expires a content hash once the event-time watermark passes
            # it.  Without a timestampField the state grows unboundedly —
            # allowed, but the config owner opted into it explicitly.
            keyed = df.withColumn("__h__", F.xxhash64(*[F.col(f) for f in fields]))
            ts = p.get("timestampField")
            if ts:
                from pipeline_spark.streaming import ensure_event_time

                keyed = ensure_event_time(keyed, ts)
                keyed = keyed.withWatermark(
                    ts, str(p.get("watermarkDelay", "10 minutes"))
                )
                out = keyed.dropDuplicatesWithinWatermark(["__h__"])
            elif p.get("allowUnboundedState", False):
                out = keyed.dropDuplicates(["__h__"])
            else:
                raise ValueError(
                    "streaming exact dedup requires timestampField (watermark-"
                    "bounded state) or allowUnboundedState: true"
                )
            return {"": out.drop("__h__")}
        return {"": exact_dedup(df, fields, id_field)}
    if method in ("minhash", "minhash_lsh"):
        shingle = int(p.get("shingleSize", 3))
        thr = float(p.get("threshold", 0.5))
        if p.get("exactVerify", False):
            # LSH as candidate generator only; exact Jaccard on the (small)
            # candidate set decides — output is exact, SQL-reproducible
            cand = minhash_lsh_pairs(
                df, text_field, id_field,
                shingle_size=shingle,
                num_hashes=int(p.get("numHashes", 64)),
                bands=int(p.get("bands", 16)),
                threshold=0.0,
            )
            pairs = exact_jaccard_on_pairs(
                cand, df, text_field, id_field, ngram=shingle, threshold=thr
            )
        else:
            pairs = minhash_lsh_pairs(
                df, text_field, id_field,
                shingle_size=shingle,
                num_hashes=int(p.get("numHashes", 64)),
                bands=int(p.get("bands", 16)),
                threshold=thr,
            )
        if p.get("outputClusters", False):
            return {"": cluster_labels(pairs, id_field)}
        if p.get("outputPairs", False):
            return {"": pairs}
        # keep one doc per duplicate CLUSTER (transitive closure) — see
        # drop_cluster_dupes for why pair-local dropping is wrong
        return {"": drop_cluster_dupes(df, pairs, id_field)}
    if method == "simhash":
        if p.get("outputPairs", False) or p.get("outputClusters", False):
            cand = simhash_candidate_pairs(
                df, text_field, id_field,
                max_hamming=int(p.get("maxHamming", 3)),
            )
            if p.get("exactVerify", False):
                cand = exact_jaccard_on_pairs(
                    cand, df, text_field, id_field,
                    ngram=int(p.get("ngram", 3)),
                    threshold=float(p.get("threshold", 0.5)),
                )
            if p.get("outputClusters", False):
                return {"": cluster_labels(cand, id_field)}
            return {"": cand}
        sig_udf = simhash_signature_udf()
        with_sig = spread(df).withColumn("simhash", sig_udf(F.col(text_field)))
        if p.get("outputSignatures", False):
            return {"": with_sig}
        return {"": exact_dedup(with_sig, ["simhash"], id_field).drop("simhash")}
    if method in ("ngram_jaccard", "jaccard"):
        mdf = p.get("maxDocFreq", 1000)
        pairs = ngram_jaccard_pairs(
            df,
            text_field,
            id_field,
            ngram=int(p.get("ngram", 3)),
            threshold=float(p.get("threshold", 0.5)),
            max_doc_freq=None if mdf in (None, "none", 0) else int(mdf),
        )
        if p.get("outputClusters", False):
            return {"": cluster_labels(pairs, id_field)}
        return {"": pairs}
    if method in ("embedding", "cosine"):
        vec_field = p.get("vectorField", "embedding")
        thr = float(p.get("threshold", 0.95))
        strategy = str(p.get("strategy", "bucketed")).lower()
        if strategy == "exact":
            # the exact path broadcasts the corpus to every executor —
            # guard it with a bounded probe so a config typo can't pull
            # 100 TB through the driver (limit-probe stops scanning early)
            max_rows = int(p.get("maxExactRows", 1_000_000))
            if df.limit(max_rows + 1).count() > max_rows:
                raise ValueError(
                    f"dedup embedding strategy=exact exceeds maxExactRows="
                    f"{max_rows}; use the default bucketed strategy at scale"
                )
            pairs = embedding_neardup_pairs(df, vec_field, id_field, threshold=thr)
        else:
            pairs = embedding_neardup_pairs_bucketed(
                df,
                vec_field,
                id_field,
                threshold=thr,
                bits=int(p.get("bits", 8)),
                tables=int(p.get("tables", 8)),
                seed=int(p.get("seed", 42)),
            )
        if p.get("outputClusters", False):
            return {"": cluster_labels(pairs, id_field)}
        return {"": pairs}
    if method in ("semantic", "semdedup"):
        return {
            "": semantic_dedup(
                df,
                p.get("vectorField", "embedding"),
                id_field,
                clusters=int(p.get("clusters", 256)),
                threshold=float(p.get("threshold", 0.95)),
                iterations=int(p.get("iterations", 0)),
                sample_size=int(p.get("sampleSize", 65_536)),
                seed=int(p.get("seed", 42)),
                max_cluster_size=int(p.get("maxClusterSize", 50_000)),
                output_assignments=bool(p.get("outputAssignments", False)),
            )
        }
    if method == "bloom":
        # incremental dedup against a HISTORY side input: build a Bloom
        # filter over the history's content hashes (a compact broadcast,
        # not a 100 TB join side), probe the batch with zero exchange.
        # "maybe seen" rows drop; "definitely new" rows pass — false
        # positives lose a few docs at the configured fpp, false
        # negatives (re-ingesting a duplicate) cannot happen.
        import os

        from pipeline_spark.functions import bloom

        fields = p.get("fields") or [text_field]
        filter_path = p.get("filterPath")
        if ctx.side_inputs:
            history = next(iter(ctx.side_inputs.values()))
            expected = p.get("expectedItems")
            if expected is None:
                # bounded metadata count on the history (an agg, not a collect)
                expected = history.count() or 1
            bitmap, m, k = bloom.build_bloom(
                history,
                fields,
                expected_items=int(expected),
                fpp=float(p.get("fpp", 1e-6)),
                max_build_partitions=int(p.get("maxBuildPartitions", 64)),
            )
            if filter_path:
                # roll the history forward: today's build ORs into the
                # persisted filter so the next run needs no re-scan
                if os.path.exists(filter_path):
                    prev, pm, pk = bloom.load_filter(filter_path)
                    if (pm, pk) != (m, k):
                        raise ValueError(
                            f"dedup bloom: persisted filter at {filter_path} "
                            f"has geometry m={pm},k={pk} but this build has "
                            f"m={m},k={k}; keep expectedItems/fpp stable "
                            "across runs or delete the file"
                        )
                    bitmap = bloom.merge_filters(prev, bitmap)
                bloom.save_filter(filter_path, bitmap, m, k)
        elif filter_path:
            # probe-only: reuse a previous run's persisted filter
            bitmap, m, k = bloom.load_filter(filter_path)
        else:
            raise ValueError(
                "dedup method=bloom requires a history sideInput (build) "
                "or filterPath (probe a persisted filter)"
            )
        flagged = bloom.probe_bloom(df, fields, bitmap, m, k)
        if p.get("outputFlag", False):
            return {"": flagged.withColumnRenamed("__seen__", "seen")}
        return {"": flagged.filter(~F.col("__seen__")).drop("__seen__")}
    raise ValueError(f"dedup: unknown method '{method}'")
