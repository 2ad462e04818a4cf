"""`similarity` transform: nearest-neighbor search over embedding columns.

Training-data-pipeline extension (BASELINE.json north star).  Three paths:

  ivf          k-means coarse quantizer (trained on a bounded sample),
               corpus vectors in inverted cells, queries probe nprobe
               cells, exact re-rank — candidate fraction ≈ nprobe/cells.

  brute_force  exact cosine top-k: broadcast the (small) query set against
               the corpus — one map-side pass over the corpus, then a
               per-query top-k window.  Correctness baseline; O(N·Q).
  lsh          sign-random-projection buckets: map each vector to a
               `bits`-bit signature from deterministic hyperplanes
               (seeded, generated driver-side, inlined as literals so the
               comparison is pure codegen).  Same-bucket candidates then
               re-ranked exactly.  This is the 100 TB path: the bucket
               join shuffles on a small int key and candidate count is
               ~N·Q/2^bits.

Reference parity note: the reference has no ANN operator (its
matchingengine sink pushes to Vertex Vector Search,
module/sink/MatchingEngineSink.java) — this module makes similarity a
first-class relational op instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipeline_spark.registry import KIND_TRANSFORM, ModuleContext, module


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_field: str = "embedding",
    id_field: str = "vec_id",
    query_id_field: str = "query_id",
    query_vec_field: str = "query_vec",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query via broadcast cross join."""
    from pipeline_spark.functions.partitioning import spread
    from pipeline_spark.functions.vector import dot, norm

    q = queries.select(
        F.col(query_id_field).alias("query_id"),
        F.col(query_vec_field).alias("qv"),
        norm(F.col(query_vec_field)).alias("qn"),
    )
    # norms precomputed per row; recomputing inside the cross join would
    # redo the fold once per (query, vector) pair
    c = spread(corpus).select(
        F.col(id_field).alias("neighbor_id"),
        F.col(vec_field).alias("cv"),
        norm(F.col(vec_field)).alias("cn"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def srp_signatures_udf(dim: int | None, bits: int, tables: int, seed: int):
    """All hash-table signatures in one vectorized pass: sign bits of
    V @ P.T packed per table.  One Arrow batch → one matmul — the
    per-table Column-HOF version interprets bits×tables lambda folds per
    row and was measured ~10× slower.

    ``dim=None`` infers the dimension from the first Arrow batch; planes
    are regenerated deterministically from ``seed`` on every executor, so
    signatures agree across partitions and runs."""
    weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64))
    plane_cache: dict[int, np.ndarray] = {}

    def planes_for(d: int) -> np.ndarray:
        if d not in plane_cache:
            rng = np.random.default_rng(seed)
            plane_cache[d] = rng.standard_normal((tables * bits, d))
        return plane_cache[d]

    if dim is not None:
        planes_for(dim)

    @F.pandas_udf("array<long>")
    def sigs(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        mat = np.array(list(vecs), dtype=np.float64)
        planes = planes_for(mat.shape[1])
        proj = mat @ planes.T > 0  # n × (tables*bits)
        per_table = proj.reshape(len(mat), tables, bits).astype(np.uint64)
        packed = (per_table * weights[None, None, :]).sum(axis=2).view(np.int64)
        return pd.Series(list(packed))

    return sigs


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_field: str = "embedding",
    id_field: str = "vec_id",
    query_id_field: str = "query_id",
    query_vec_field: str = "query_vec",
    k: int = 10,
    bits: int = 16,
    tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: multi-table SRP bucketing, exact re-rank.

    ``tables`` independent hash tables raise recall; a candidate appears
    if it collides with the query in ANY table.  Plan: one signature UDF
    pass per side, posexplode to (table, sig) rows, ONE broadcast join on
    the bucket key, exact cosine re-rank of the candidate set.
    """
    from pipeline_spark.functions.partitioning import spread
    from pipeline_spark.functions.vector import dot, norm

    sig_udf = srp_signatures_udf(dim, bits, tables, seed)
    c = spread(corpus).select(
        F.col(id_field).alias("neighbor_id"),
        F.col(vec_field).alias("cv"),
        norm(F.col(vec_field)).alias("cn"),
        F.posexplode(sig_udf(F.col(vec_field))).alias("table", "sig"),
    )
    q = queries.select(
        F.col(query_id_field).alias("query_id"),
        F.col(query_vec_field).alias("qv"),
        norm(F.col(query_vec_field)).alias("qn"),
        F.posexplode(sig_udf(F.col(query_vec_field))).alias("table", "sig"),
    )
    cand = c.join(F.broadcast(q), ["table", "sig"])
    # r15: score BEFORE deduplicating.  Dedup on (query, neighbor) with
    # the vector columns still attached forces a SortAggregate carrying
    # array buffers (two sorts + an exchange of vectors); scoring first
    # reduces each row to three scalars, so the dedup is a codegen
    # HashAggregate with map-side partials — the duplicate-factor is
    # ≤ tables and the extra dot products are cheaper than sorting
    # vectors.  Identical result: duplicates of a pair score
    # bit-identically, so collapsing before or after is the same set.
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _collect_sample(
    corpus: DataFrame, vec_field: str, sample_size: int
) -> np.ndarray:
    """Bounded driver-side training sample (sample_size rows × dim
    floats, ~a few MB) — shared by the IVF and PQ trainers so composed
    methods (ivfpq) pay ONE collect."""
    rows = (
        corpus.select(vec_field).limit(sample_size).toPandas()[vec_field].tolist()
    )
    return np.array(rows, dtype=np.float64)


def _train_centroids(
    corpus: DataFrame, vec_field: str, *, n_cells: int, sample_size: int,
    iters: int, seed: int, sample: np.ndarray | None = None,
):
    """Coarse quantizer training: k-means on a bounded driver-side sample
    (standard IVF practice — FAISS trains on a sample too).  The sample
    is capped (``sample_size`` rows × dim floats, ~a few MB), the full
    corpus never leaves executors."""
    mat = (
        sample
        if sample is not None
        else _collect_sample(corpus, vec_field, sample_size)
    )
    rng = np.random.default_rng(seed)
    centroids = mat[rng.choice(len(mat), size=min(n_cells, len(mat)), replace=False)]
    for _ in range(iters):
        # cosine assignment: normalize then dot
        cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
        mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        assign = (mn @ cn.T).argmax(axis=1)
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def _cell_assign_udf(centroids: np.ndarray, nprobe: int):
    """Nearest-``nprobe`` centroid ids per vector, one matmul per Arrow
    batch; centroids ship in the UDF closure (small: cells × dim)."""
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("array<int>")
    def cells(vecs: pd.Series) -> pd.Series:
        mat = np.array(list(vecs), dtype=np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cn.T
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return cells


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_field: str = "embedding",
    id_field: str = "vec_id",
    query_id_field: str = "query_id",
    query_vec_field: str = "query_vec",
    k: int = 10,
    n_cells: int = 64,
    nprobe: int = 8,
    sample_size: int = 100_000,
    kmeans_iters: int = 5,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer, inverted cells.

    Plan: train centroids on a bounded sample (driver, standard IVF);
    corpus vectors assign to their 1 nearest cell (map-only matmul UDF);
    queries probe their ``nprobe`` nearest cells; ONE broadcast join on
    the int cell id; exact cosine re-rank of candidates.  Candidate
    fraction ≈ nprobe/n_cells of the corpus — the classic recall/scan
    knob.  ``nprobe >= n_cells`` degenerates to exact search (useful as
    its own oracle)."""
    from pipeline_spark.functions.partitioning import spread
    from pipeline_spark.functions.vector import dot, norm

    centroids = _train_centroids(
        corpus, vec_field, n_cells=n_cells, sample_size=sample_size,
        iters=kmeans_iters, seed=seed,
    )
    corpus_cells = _cell_assign_udf(centroids, 1)
    query_cells = _cell_assign_udf(centroids, min(nprobe, len(centroids)))

    c = spread(corpus).select(
        F.col(id_field).alias("neighbor_id"),
        F.col(vec_field).alias("cv"),
        norm(F.col(vec_field)).alias("cn"),
        F.explode(corpus_cells(F.col(vec_field))).alias("cell"),
    )
    q = queries.select(
        F.col(query_id_field).alias("query_id"),
        F.col(query_vec_field).alias("qv"),
        norm(F.col(query_vec_field)).alias("qn"),
        F.explode(query_cells(F.col(query_vec_field))).alias("cell"),
    )
    cand = c.join(F.broadcast(q), "cell")
    # score before dedup — see lsh_topk (scalar HashAggregate dedup
    # instead of SortAggregate over vector buffers; identical result)
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _train_pq_codebooks(
    corpus: DataFrame, vec_field: str, *, m: int, codebook_size: int,
    sample_size: int, iters: int, seed: int,
    sample: np.ndarray | None = None,
) -> list[np.ndarray]:
    """Per-subspace k-means codebooks on a bounded driver-side sample —
    FAISS's own PQ training regime.  Returns ``m`` arrays of shape
    (≤codebook_size, dim/m)."""
    mat = (
        sample
        if sample is not None
        else _collect_sample(corpus, vec_field, sample_size)
    )
    n, d = mat.shape
    if d % m:
        raise ValueError(
            f"similarity pq: dim {d} not divisible by m={m} subspaces"
        )
    dsub = d // m
    rng = np.random.default_rng(seed)
    books: list[np.ndarray] = []
    for j in range(m):
        sub = mat[:, j * dsub:(j + 1) * dsub]
        # init from UNIQUE subvectors: duplicate rows would seed two
        # centroids on one pattern and starve another (k-means never
        # recovers an empty cluster)
        uniq = np.unique(sub, axis=0)
        kk = min(codebook_size, len(uniq))
        cent = uniq[rng.choice(len(uniq), size=kk, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(kk):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(0)
        books.append(cent)
    return books


def _adc_lut(books: list[np.ndarray], qv: np.ndarray, dsub: int) -> np.ndarray:
    """Rectangular (m, k_max) ADC lookup table for one query vector.

    Subspace codebooks can be ragged (a low-cardinality dimension trains
    fewer than ``codebook_size`` centroids), and ``np.stack`` needs equal
    shapes — so rows shorter than the widest codebook are padded with
    ``+inf``.  Codes produced by :func:`_pq_encode_udf` never index past
    their own subspace's codebook, so the padding is never read."""
    kmax = max(b.shape[0] for b in books)
    lut = np.full((len(books), kmax), np.inf)
    for j, b in enumerate(books):
        lut[j, : b.shape[0]] = ((b - qv[j * dsub:(j + 1) * dsub]) ** 2).sum(1)
    return lut


def _pq_encode_udf(books: list[np.ndarray]):
    """Vector → array of per-subspace codeword ids; one (batch × k)
    distance matrix per subspace per Arrow batch.  The codebooks ship in
    the closure (m × k × dsub floats — KB-scale)."""
    m = len(books)
    dsub = books[0].shape[1]

    @F.pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.array(list(vecs), dtype=np.float64)
        codes = np.zeros((len(mat), m), dtype=np.int32)
        for j in range(m):
            sub = mat[:, j * dsub:(j + 1) * dsub]
            d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d2.argmin(1)
        return pd.Series(list(codes))

    return encode


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_field: str = "embedding",
    id_field: str = "vec_id",
    query_id_field: str = "query_id",
    query_vec_field: str = "query_vec",
    k: int = 10,
    m: int = 8,
    codebook_size: int = 256,
    sample_size: int = 100_000,
    kmeans_iters: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Product-quantization top-k (asymmetric distance, FAISS's PQ/ADC):
    the 100 TB embedding-compression path.

    Each vector compresses to ``m`` one-byte-scale codes (a 64-float
    embedding at m=8 → 8 codes: 32× smaller than float32), so the whole
    index fits where raw vectors cannot.  Per query, an (m × k)
    lookup table of exact subspace distances is built driver-side
    (KB) and shipped in the scoring UDF's closure; each corpus row's
    approximate squared-L2 is then ``sum_j LUT[j, code_j]`` — a few
    table lookups per row, no float recomputation, one map-only pass +
    the same per-query top-k window every other method uses.  Returns
    (query_id, neighbor_id, adc_dist, rank); compose with ``ivf`` cells
    when candidate pruning is also wanted (IVF-PQ).  Training is a
    bounded driver-side sample, like IVF."""
    from pipeline_spark.functions.partitioning import spread

    books = _train_pq_codebooks(
        corpus, vec_field, m=m, codebook_size=codebook_size,
        sample_size=sample_size, iters=kmeans_iters, seed=seed,
    )
    dsub = books[0].shape[1]
    encode = _pq_encode_udf(books)
    codes = spread(corpus).select(
        F.col(id_field).alias("neighbor_id"),
        encode(F.col(vec_field)).alias("__codes__"),
    )
    qrows = queries.select(query_id_field, query_vec_field).collect()
    if not qrows:
        raise ValueError("similarity pq: empty query set")
    qids = [r[query_id_field] for r in qrows]
    luts = []
    for r in qrows:
        qv = np.array(r[query_vec_field], dtype=np.float64)
        luts.append(_adc_lut(books, qv, dsub))  # (m, k_max), inf-padded

    @F.pandas_udf("array<double>")
    def adc(codes_s: pd.Series) -> pd.Series:
        c = np.array(list(codes_s), dtype=np.int64)  # (n, m)
        n = len(c)
        out = np.zeros((n, len(luts)))
        idx = np.arange(c.shape[1])[None, :]
        for qi, lut in enumerate(luts):
            out[:, qi] = lut[idx, c].sum(1)
        return pd.Series(list(out))

    spark = corpus.sparkSession
    qmap = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qids)], ["__qidx__", "query_id"]
    )
    scored = codes.select(
        "neighbor_id",
        F.posexplode(adc(F.col("__codes__"))).alias("__qidx__", "adc_dist"),
    ).join(F.broadcast(qmap), "__qidx__")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_field: str = "embedding",
    id_field: str = "vec_id",
    query_id_field: str = "query_id",
    query_vec_field: str = "query_vec",
    k: int = 10,
    n_cells: int = 64,
    nprobe: int = 8,
    m: int = 8,
    codebook_size: int = 256,
    sample_size: int = 100_000,
    kmeans_iters: int = 8,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ: coarse cells prune candidates (scan ≈ nprobe/n_cells of
    the corpus), PQ codes score them (bytes per vector instead of
    floats) — the FAISS composition that makes billion-vector ANN fit.
    One broadcast join on the int cell id; ADC lookup tables per query
    in the scoring UDF closure; the raw vectors are never re-read after
    encoding."""
    from pipeline_spark.functions.partitioning import spread

    # r15: ONE bounded sample collect feeds both trainers (the coarse
    # quantizer and the PQ codebooks trained on two separate collects of
    # the same rows before — one whole driver job saved)
    sample = _collect_sample(corpus, vec_field, sample_size)
    centroids = _train_centroids(
        corpus, vec_field, n_cells=n_cells, sample_size=sample_size,
        iters=kmeans_iters, seed=seed, sample=sample,
    )
    books = _train_pq_codebooks(
        corpus, vec_field, m=m, codebook_size=codebook_size,
        sample_size=sample_size, iters=kmeans_iters, seed=seed,
        sample=sample,
    )
    dsub = books[0].shape[1]
    query_cells = _cell_assign_udf(centroids, min(nprobe, len(centroids)))

    # r15: fused corpus pass — PQ codes AND the nearest cell in ONE
    # Arrow boundary (they read the same vectors; two chained pandas
    # UDFs cost two JVM↔Python passes over the whole corpus)
    mbooks = books
    cn_ = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("struct<codes: array<int>, cell: int>")
    def encode_and_cell(vecs: pd.Series) -> pd.DataFrame:
        mat = np.array(list(vecs), dtype=np.float64)
        codes = np.zeros((len(mat), len(mbooks)), dtype=np.int32)
        for j in range(len(mbooks)):
            sub = mat[:, j * dsub:(j + 1) * dsub]
            d2 = ((sub[:, None, :] - mbooks[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d2.argmin(1)
        nm = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        # argsort top-1, NOT argmax: bit-identical tie behavior with
        # _cell_assign_udf(nprobe=1), which this pass replaces
        cell = np.argsort(-(nm @ cn_.T), axis=1)[:, 0].astype(np.int32)
        return pd.DataFrame({"codes": list(codes), "cell": cell})

    # non-deterministic marking (guide §4.4): CollapseProject otherwise
    # inlines the struct UDF into BOTH field extractions and the
    # optimizer pushes one copy below the spread exchange — two full
    # corpus passes for one fused UDF.  The function is in fact
    # deterministic; the mark only forbids duplication/reordering.
    encode_and_cell_1x = encode_and_cell.asNondeterministic()
    c = spread(corpus).select(
        F.col(id_field).alias("neighbor_id"),
        encode_and_cell_1x(F.col(vec_field)).alias("__ec__"),
    ).select(
        "neighbor_id",
        F.col("__ec__.codes").alias("__codes__"),
        F.col("__ec__.cell").alias("cell"),
    )
    qrows = queries.select(query_id_field, query_vec_field).collect()
    if not qrows:
        raise ValueError("similarity ivfpq: empty query set")
    luts = {}
    qcells_rows = []
    for qi, r in enumerate(qrows):
        qv = np.array(r[query_vec_field], dtype=np.float64)
        luts[qi] = _adc_lut(books, qv, dsub)
        qcells_rows.append((qi, r[query_id_field],
                            [float(x) for x in qv]))
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(
        qcells_rows, ["__qidx__", "query_id", "__qv__"]
    ).select(
        "__qidx__", "query_id",
        F.explode(query_cells(F.col("__qv__"))).alias("cell"),
    )
    cand = c.join(F.broadcast(qdf), "cell")

    @F.pandas_udf("double")
    def adc(qidx_s: pd.Series, codes_s: pd.Series) -> pd.Series:
        codes = np.array(list(codes_s), dtype=np.int64)
        out = np.zeros(len(codes))
        idx = np.arange(codes.shape[1])
        for qi in set(int(x) for x in qidx_s):
            mask = (qidx_s == qi).to_numpy()
            out[mask] = luts[qi][idx[None, :], codes[mask]].sum(1)
        return pd.Series(out)

    # score before dedup — see lsh_topk (scalar HashAggregate dedup
    # instead of SortAggregate over the code arrays; a duplicated
    # (query, neighbor) pair scores bit-identically from the same LUT,
    # so the distinct set is unchanged)
    scored = cand.select(
        "query_id", "neighbor_id",
        adc(F.col("__qidx__"), F.col("__codes__")).alias("adc_dist"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


@module("similarity", kind=KIND_TRANSFORM)
def similarity_transform(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    corpus = ctx.input
    if ctx.side_inputs:
        queries = next(iter(ctx.side_inputs.values()))
    elif len(ctx.inputs) > 1:
        queries = ctx.inputs[1]
    else:
        raise ValueError("similarity requires a query side input")
    method = str(p.get("method", "brute_force")).lower()
    kwargs = dict(
        vec_field=p.get("vectorField", "embedding"),
        id_field=p.get("idField", "vec_id"),
        query_id_field=p.get("queryIdField", "query_id"),
        query_vec_field=p.get("queryVectorField", "query_vec"),
        k=int(p.get("k", 10)),
    )
    if method in ("brute_force", "exact"):
        return {"": brute_force_topk(corpus, queries, **kwargs)}
    if method in ("lsh", "ann"):
        return {
            "": lsh_topk(
                corpus,
                queries,
                bits=int(p.get("bits", 16)),
                tables=int(p.get("tables", 4)),
                dim=int(p.get("dim", 64)),
                seed=int(p.get("seed", 42)),
                **kwargs,
            )
        }
    if method == "ivf":
        return {
            "": ivf_topk(
                corpus,
                queries,
                n_cells=int(p.get("cells", p.get("nCells", 64))),
                nprobe=int(p.get("nprobe", 8)),
                sample_size=int(p.get("sampleSize", 100_000)),
                kmeans_iters=int(p.get("kmeansIters", 5)),
                seed=int(p.get("seed", 42)),
                **kwargs,
            )
        }
    if method == "ivfpq":
        return {
            "": ivfpq_topk(
                corpus,
                queries,
                n_cells=int(p.get("cells", p.get("nCells", 64))),
                nprobe=int(p.get("nprobe", 8)),
                m=int(p.get("m", p.get("subspaces", 8))),
                codebook_size=int(p.get("codebookSize", 256)),
                sample_size=int(p.get("sampleSize", 100_000)),
                kmeans_iters=int(p.get("kmeansIters", 8)),
                seed=int(p.get("seed", 42)),
                **kwargs,
            )
        }
    if method == "pq":
        return {
            "": pq_topk(
                corpus,
                queries,
                m=int(p.get("m", p.get("subspaces", 8))),
                codebook_size=int(p.get("codebookSize", 256)),
                sample_size=int(p.get("sampleSize", 100_000)),
                kmeans_iters=int(p.get("kmeansIters", 8)),
                seed=int(p.get("seed", 42)),
                **kwargs,
            )
        }
    raise ValueError(f"similarity: unknown method '{method}'")
