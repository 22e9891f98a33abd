"""Embedding similarity search: exact cosine top-k + LSH-bucketed ANN.

- ``cosine_topk`` is the exact baseline: query set broadcast against the
  corpus, dot/norms computed with a fixed-order fold over the vector arrays
  (deterministic, engine-independent), window rank per query.  At 100 TB the
  broadcast side is the (small) query set, the corpus scan stays partitioned
  and shuffle only happens for the per-query top-k (AQE-coalesced).
- ``ann_hyperplane_topk`` is the scale path: b random-hyperplane sign bits
  (planes generated once from a fixed seed, shipped as literals — no Python
  at eval time) bucket the corpus; each query only scores its own bucket.
  Approximation quality is pinned against the exact baseline in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .util import spread as _spread


def _dot(a: Column, b: Column) -> Column:
    """Fixed-order fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    A = np.stack(a.to_numpy()).astype(np.float64)
    B = np.stack(b.to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", A, B)
    den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(np.einsum("ij,ij->i", B, B))
    return pd.Series(num / den)


def cosine_sim_pandas(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine: one BLAS pass per batch, not a fold per row.

    The hot-path twin of ``cosine_sim`` — use it wherever millions of pairs
    flow through the verify step; the JVM fold stays for small oracle-checked
    plans where determinism of summation order is worth more than speed.
    (The UDF is wrapped per call — registration needs an active session.)
    """
    return F.pandas_udf(_cosine_batch, "double")(a, b)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact brute-force top-k neighbors for each query vector.

    ``queries``: (query_id, query_vec); ``embeddings``: (vec_id, embedding).
    Similarity is rounded before ranking so ordering is stable across
    engines; ties break on vec_id.
    """
    joined = embeddings.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = F.round(cosine_sim(F.col("embedding"), F.col("query_vec")), round_digits)
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        joined.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"), "sim")
    )


def hyperplane_planes(dim: int = 64, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed, generated driver-side)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _table_buckets(vec: Column, planes: list[list[float]], n_tables: int, bits: int) -> Column:
    """array<struct<table,bucket>> — one LSH bucket per hash table.

    All n_tables×bits plane projections for a whole Arrow batch are one
    GEMM (batch × planesᵀ), then sign bits pack into an int bucket per
    table.  The expression-tree alternative (one fold per plane per row)
    compiles to a giant codegen unit and evaluates scalar-at-a-time —
    measured ~20× slower at 64 planes.
    """
    P = np.asarray(planes, dtype=np.float64)
    weights = (1 << np.arange(bits)[::-1]).astype(np.int64)

    def f(v: pd.Series) -> pd.Series:
        E = np.stack(v.to_numpy()).astype(np.float64)
        signs = (E @ P.T) >= 0
        buckets = signs.reshape(len(E), n_tables, bits) @ weights
        return pd.Series(
            [
                [{"table": t, "bucket": int(row[t])} for t in range(n_tables)]
                for row in buckets
            ]
        )

    return F.pandas_udf(f, "array<struct<table:int,bucket:long>>")(vec)


def embedding_neardup_exact(
    embeddings: DataFrame,
    threshold: float = 0.95,
    round_digits: int = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """All vector pairs with cosine similarity ≥ threshold — exact, blocked.

    Exact all-pairs is O(n²) no matter what; the question is the *physical*
    shape.  A naive theta-self-join materializes every pair as a row and
    evaluates a per-pair expression fold — row-at-a-time, no SIMD.  Here the
    corpus is hash-split into ``n_blocks`` blocks, each vector is replicated
    to the ``n_blocks`` block-pairs its block participates in, and one
    ``applyInPandas`` task per (block_i, block_j) computes the whole
    gram sub-matrix with a single BLAS GEMM, emitting only rows above the
    threshold.  Replication factor = n_blocks; per-task memory =
    (n/n_blocks)² doubles — pick n_blocks so that fits an executor core.
    At 100 TB-scale corpora prefer ``embedding_neardup_lsh`` (prunes the
    candidate space); this blocked kernel is the exact verify/baseline.
    """
    blocked = _spread(embeddings).select(
        "vec_id",
        "embedding",
        F.pmod(F.hash("vec_id"), F.lit(n_blocks)).alias("blk"),
    )
    bp = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.least(F.col("blk"), F.lit(k)).alias("bi"),
                    F.greatest(F.col("blk"), F.lit(k)).alias("bj"),
                )
                for k in range(n_blocks)
            ]
        )
    )
    rep = blocked.select(
        "vec_id", "embedding", "blk", F.explode(bp).alias("p")
    ).select("vec_id", "embedding", "blk", "p.bi", "p.bj")

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["bi"].iat[0]), int(pdf["bj"].iat[0])
        ids = pdf["vec_id"].to_numpy()
        E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", E, E))
        N = E / norms[:, None]
        if bi == bj:
            G = np.round(N @ N.T, round_digits)
            iu, ju = np.nonzero(np.triu(G >= threshold, k=1))
            left, right, sims = ids[iu], ids[ju], G[iu, ju]
        else:
            mi = (pdf["blk"] == bi).to_numpy()
            mj = (pdf["blk"] == bj).to_numpy()
            G = np.round(N[mi] @ N[mj].T, round_digits)
            iu, ju = np.nonzero(G >= threshold)
            left, right, sims = ids[mi][iu], ids[mj][ju], G[iu, ju]
        lo = np.minimum(left, right)
        hi = np.maximum(left, right)
        return pd.DataFrame({"id1": lo, "id2": hi, "cosine": sims})

    return rep.groupBy("bi", "bj").applyInPandas(
        gram, "id1 long, id2 long, cosine double"
    )


def embedding_neardup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_tables: int = 8,
    bits_per_table: int = 8,
    dim: int = 64,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding near-dup at scale: LSH-bucketed candidates + exact verify.

    High-cosine pairs collide in a table with probability (1-θ/π)^bits —
    for θ ≈ 18° (cos 0.95) and 8 bits that is ≈ 0.43 per table, ≈ 0.99
    across 8 tables.  Candidate generation is a self-equi-join on
    (table, bucket) — shuffle keyed by bucket, no cross product.  Candidates
    are deduped as bare (id1, id2) pairs (narrow shuffle rows — the vectors
    would bloat the exchange n_tables-fold), vectors re-attached by two
    equi-joins, and the exact cosine verify runs Arrow-vectorized.  False
    positives are removed by the verify; false negatives bounded by the
    table count.
    """
    planes = hyperplane_planes(dim, n_tables * bits_per_table, seed)
    bucketed = _spread(embeddings).select(
        "vec_id",
        F.explode(
            _table_buckets(F.col("embedding"), planes, n_tables, bits_per_table)
        ).alias("tb"),
    ).select("vec_id", "tb.table", "tb.bucket")
    # Both self-join branches read the materialized buckets instead of
    # re-running the projection GEMM per branch (same pattern as the
    # MinHash/SimHash paths).
    bucketed = bucketed.persist()
    bucketed.count()
    a = bucketed.select("table", "bucket", F.col("vec_id").alias("id1"))
    b = bucketed.select("table", "bucket", F.col("vec_id").alias("id2"))
    cands = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    e1 = embeddings.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"))
    e2 = embeddings.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"))
    sim = F.round(cosine_sim_pandas(F.col("e1"), F.col("e2")), round_digits)
    return (
        cands.join(e1, "id1")
        .join(e2, "id2")
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def ann_hyperplane_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 8,
    bits_per_table: int = 4,
    dim: int = 64,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k via multi-table hyperplane LSH.

    Single-probe LSH recalls poorly when true neighbors sit at modest cosine
    similarity (P[same bucket] = (1-θ/π)^bits), so we use the standard L-table
    construction: candidates = union over L independent tables, then exact
    ranking on candidates only.  Candidate generation is an equi-join on
    (table, bucket) — never a cross product — and the per-corpus-row work is
    L×bits plane projections, all codegen'd.  Recall/cost tune via
    (n_tables, bits_per_table); the exact twin is ``cosine_topk``.
    """
    planes = hyperplane_planes(dim, n_tables * bits_per_table, seed)
    corpus_b = _spread(embeddings).select(
        "vec_id",
        "embedding",
        F.explode(_table_buckets(F.col("embedding"), planes, n_tables, bits_per_table)).alias("tb"),
    ).select("vec_id", "embedding", "tb.table", "tb.bucket")
    queries_b = queries.select(
        "query_id",
        "query_vec",
        F.explode(_table_buckets(F.col("query_vec"), planes, n_tables, bits_per_table)).alias("tb"),
    ).select("query_id", "query_vec", "tb.table", "tb.bucket")
    cands = (
        corpus_b.join(F.broadcast(queries_b), ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "query_vec", "vec_id", "embedding")
        .distinct()
    )
    sim = F.round(cosine_sim(F.col("embedding"), F.col("query_vec")), round_digits)
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cands.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"), "sim")
    )


# -- IVF (inverted-file) ANN --------------------------------------------------


def _collect_train_matrix(
    embeddings: DataFrame,
    seed: int = 42,
    train_pct: int = 25,
    max_train: int = 100_000,
) -> np.ndarray:
    """The shared training sample of the quantizer trainers: a
    deterministic ``train_pct``% hash-sample capped at ``max_train`` rows
    (the cap keeps the collect bounded at any corpus size; 100k × 64
    doubles ≈ 50 MB), stacked float64.  Rows arrive in
    ``xxhash64(vec_id, seed)`` order — a seeded draw reproducible across
    partitionings, unlike ``rand()`` — which doubles as the k-means init
    order downstream.  Factored out so composed indexes (IVF-PQ) collect
    the sample ONCE and train every stage from it (guide §1.2: don't
    compute things twice; the residual trainer used to replay a
    full-corpus UDF chain to re-collect these exact rows)."""
    rows = (
        embeddings.filter(
            F.pmod(F.xxhash64(F.col("vec_id"), F.lit(seed + 1)), 100) < train_pct
        )
        .select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)), F.col("vec_id"))
        .limit(max_train)
        .collect()
    )
    return np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])


def ivf_train_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iters: int = 2,
    seed: int = 42,
    train_pct: int = 25,
    max_train: int = 100_000,
) -> np.ndarray:
    """Spherical k-means centroids from a bounded sample, trained driver-side.

    The FAISS norm: a coarse quantizer needs a *representative* sample, not
    the corpus — one cluster job collects the deterministic hash-sample
    (:func:`_collect_train_matrix`); init (the ``n_cells`` vectors with
    smallest ``xxhash64(vec_id, seed)``) and the Lloyd iterations are pure
    numpy.  The earlier distributed-Lloyd variant cost 2 cluster jobs per
    round in driver-roundtrip latency to move n_cells×dim partials — the
    corpus-sized work (cell *assignment*) stays on the cluster either way,
    so centralizing the tiny training step is strictly better.
    """
    X = _collect_train_matrix(embeddings, seed, train_pct, max_train)
    return _ivf_lloyd(X, n_cells, n_iters)


def _ivf_lloyd(X: np.ndarray, n_cells: int, n_iters: int) -> np.ndarray:
    """The pure-numpy spherical-Lloyd half of :func:`ivf_train_centroids`
    (hash-order init, means over raw vectors, re-normalize per round)."""
    # A sample smaller than n_cells cannot seed that many centroids — clamp,
    # or the bincount-length/init-length mismatch below raises IndexError.
    n_cells = min(n_cells, len(X))
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = Xn[:n_cells].copy()  # rows arrive in hash order — same init as before

    for _ in range(n_iters):
        assign = (Xn @ C.T).argmax(axis=1)
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)  # means over raw vectors, then re-normalize
        counts = np.bincount(assign, minlength=n_cells)
        nonempty = counts > 0
        C[nonempty] = sums[nonempty] / counts[nonempty, None]
        C /= np.linalg.norm(C, axis=1, keepdims=True)
    return C


def ivf_cell_col(vec: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid id (max cosine) — one GEMM per Arrow batch."""
    Cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    def f(v: pd.Series) -> pd.Series:
        E = np.stack(v.to_numpy()).astype(np.float64)
        E /= np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
        return pd.Series((E @ Cn.T).argmax(axis=1).astype(np.int32))

    return F.pandas_udf(f, "int")(vec)


def ivf_probe_cells_col(vec: Column, centroids: np.ndarray, nprobe: int) -> Column:
    """The ``nprobe`` nearest cell ids for a query vector (array<int>)."""
    Cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    def f(v: pd.Series) -> pd.Series:
        E = np.stack(v.to_numpy()).astype(np.float64)
        E /= np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(E @ Cn.T), axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    return F.pandas_udf(f, "array<int>")(vec)


def ann_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    n_iters: int = 2,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k via an inverted-file index (IVF-flat, cosine metric).

    The second scale path next to ``ann_hyperplane_topk``: a trained coarse
    quantizer partitions the corpus into ``n_cells`` cells; each query scans
    only its ``nprobe`` nearest cells (fraction ≈ nprobe/n_cells of the
    corpus), ranked exactly.  Compared to LSH: recall degrades smoothly with
    nprobe instead of plane-count cliffs, and the cell id doubles as the
    physical partitioning key — at 100 TB the corpus would be *written*
    bucketed by cell so a probe is a partition-pruned scan, not a join.
    """
    C = ivf_train_centroids(embeddings, n_cells, n_iters, seed)
    corpus = _spread(embeddings).select(
        "vec_id", "embedding", ivf_cell_col(F.col("embedding"), C).alias("cell")
    )
    probes = queries.select(
        "query_id",
        "query_vec",
        F.explode(ivf_probe_cells_col(F.col("query_vec"), C, nprobe)).alias("cell"),
    )
    cands = corpus.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = F.round(cosine_sim_pandas(F.col("embedding"), F.col("query_vec")), round_digits)
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cands.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"), "sim")
    )


# -- int8 quantization --------------------------------------------------------


def quantize_embeddings(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = round(x_i / s · 127).

    The standard memory-bandwidth lever for corpus-scale ANN (FAISS SQ8 /
    product-quantization's scalar baseline): 4× smaller vectors mean 4× less
    scan traffic for every downstream search, at a bounded cosine error
    (≤ ~1/127 per axis).  ``scale`` is the vector's max-|x| so the full int8
    range is used; all-zero vectors keep scale 1 to avoid div-by-zero.
    Pure codegen'd array expressions — map-only at any scale.
    """
    v = F.col(vec_col)
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30)
    ).cast("double")
    q = F.transform(v, lambda x: F.round(x / scale * 127).cast("tinyint"))
    return embeddings.select(
        *[c for c in embeddings.columns if c != vec_col],
        q.alias("q8"),
        scale.alias("q_scale"),
    )


def dequantize_col(q8: Column, scale: Column) -> Column:
    """float array back from (int8 array, scale) — x̂_i = q_i/127 · s."""
    return F.transform(q8, lambda q: q.cast("double") / 127.0 * scale)


def cosine_topk_quantized(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k over int8-quantized vectors.

    Quantize → dequantize → exact ranking kernel: the result differs from
    :func:`cosine_topk` only by the quantization error, which is what the
    registered derived check bounds (recall@k vs the float path).  Note
    cosine is scale-invariant, so the per-vector ``q_scale`` cancels — the
    quantization error is purely the per-axis rounding.
    """
    dq = quantize_embeddings(embeddings).select(
        "vec_id", dequantize_col(F.col("q8"), F.col("q_scale")).alias("embedding")
    )
    return cosine_topk(dq, queries, k=k, round_digits=round_digits)


def pq_train_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iters: int = 3,
    seed: int = 42,
    train_pct: int = 25,
    max_train: int = 100_000,
) -> np.ndarray:
    """Product-quantization codebooks [m, k, d/m]: the vector space split
    into ``m`` subspaces, each with its own ``k``-centroid k-means — the
    compression tier between scalar int8 (4×) and IVF's coarse cells:
    codes are ``m`` bytes per vector (16× at d=64, m=8 over float32)
    while keeping per-subspace resolution (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI'11 — the FAISS PQ
    trainer shape).

    Training mirrors :func:`ivf_train_centroids`: a deterministic
    hash-sample bounded by ``max_train`` collects once
    (:func:`_collect_train_matrix`), then pure-numpy Lloyd per subspace
    (seeded hash-order init, so codebooks are identical across
    partitionings and reruns).
    """
    X = _collect_train_matrix(embeddings, seed, train_pct, max_train)
    return _pq_lloyd(X, m, k, n_iters)


def _pq_lloyd(X: np.ndarray, m: int, k: int, n_iters: int) -> np.ndarray:
    """The pure-numpy per-subspace-Lloyd half of
    :func:`pq_train_codebooks` (hash-order init per subspace)."""
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    k = min(k, len(X))
    books = np.zeros((m, k, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[:k].copy()  # hash-order init per subspace
        for _ in range(n_iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            sums = np.zeros_like(C)
            np.add.at(sums, assign, S)
            counts = np.bincount(assign, minlength=k)
            nonempty = counts > 0
            C[nonempty] = sums[nonempty] / counts[nonempty, None]
        books[j] = C
    return books


def pq_encode(
    embeddings: DataFrame, codebooks: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Map-only PQ encoding: per subspace, the nearest centroid's index —
    ``m`` tinyint codes per vector, Arrow-batched (the codebooks ride the
    UDF closure as a broadcast-sized constant; no shuffle at any scale)."""
    m, k, dsub = codebooks.shape

    @F.pandas_udf("array<smallint>")
    def enc(v: pd.Series) -> pd.Series:
        # smallint, not tinyint: k=256 codebooks (the standard 8-bit PQ
        # setting) would silently wrap signed int8 into negative indices
        X = np.stack(v.to_numpy())
        out = np.empty((X.shape[0], m), dtype=np.int16)
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]
            d2 = ((S[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d2.argmin(axis=1).astype(np.int16)
        return pd.Series(list(out))

    return embeddings.select(
        *[c for c in embeddings.columns if c != vec_col],
        enc(F.col(vec_col)).alias("pq_codes"),
    )


def pq_decode_col(codes: Column, codebooks: np.ndarray) -> Column:
    """Reconstructed vector from PQ codes: per-subspace centroid lookup,
    concatenated — the decode half of the encode/decode pair."""
    m, k, dsub = codebooks.shape

    @F.pandas_udf("array<double>")
    def dec(c: pd.Series) -> pd.Series:
        C = np.stack(c.to_numpy()).astype(np.int64)
        out = np.empty((C.shape[0], m * dsub))
        for j in range(m):
            out[:, j * dsub : (j + 1) * dsub] = codebooks[j][C[:, j]]
        return pd.Series(list(out))

    return dec(codes)


def cosine_topk_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k over PQ-reconstructed vectors:
    train → encode → decode → the exact ranking kernel, mirroring the
    int8 path so the quality gate is the same recall@k-vs-float check.
    The scan-side payoff at scale is the code size (m bytes/vector); the
    asymmetric-distance LUT variant would cut the decode flops too, at
    the cost of a per-query table — the compression is the load-bearing
    part and is what this certifies.
    """
    books = pq_train_codebooks(embeddings, m=m, k=k_codes)
    approx = pq_encode(embeddings, books).select(
        "vec_id", pq_decode_col(F.col("pq_codes"), books).alias("embedding")
    )
    return cosine_topk(approx, queries, k=k, round_digits=round_digits)


def ivfpq_encode(
    embeddings: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
) -> DataFrame:
    """IVF-PQ index rows: (vec_id, cell, pq_codes, recon_norm) — each
    vector's coarse cell plus the PQ codes of its RESIDUAL against that
    cell's centroid (residuals are much smaller than raw vectors, so the
    same code budget quantizes far tighter — the FAISS IVFPQ design),
    and the reconstruction's L2 norm precomputed so ADC scoring below
    needs no decode.  Map-only, Arrow-batched."""
    m, kc, dsub = codebooks.shape

    @F.pandas_udf("struct<cell:int, pq_codes:array<smallint>, recon_norm:double>")
    def enc(v: pd.Series) -> pd.DataFrame:
        X = np.stack(v.to_numpy()).astype(np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        Cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
        cell = (Xn @ Cn.T).argmax(axis=1)
        R = X - centroids[cell]
        codes = np.empty((X.shape[0], m), dtype=np.int16)
        recon = np.empty_like(X)
        for j in range(m):
            S = R[:, j * dsub : (j + 1) * dsub]
            d2 = ((S[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
            cj = d2.argmin(axis=1)
            codes[:, j] = cj.astype(np.int16)
            recon[:, j * dsub : (j + 1) * dsub] = codebooks[j][cj]
        recon += centroids[cell]
        norms = np.linalg.norm(recon, axis=1)
        return pd.DataFrame(
            {
                "cell": cell.astype(np.int32),
                "pq_codes": list(codes),
                "recon_norm": norms,
            }
        )

    out = embeddings.select("vec_id", enc(F.col("embedding")).alias("_ix"))
    return out.select(
        "vec_id",
        F.col("_ix.cell").alias("cell"),
        F.col("_ix.pq_codes").alias("pq_codes"),
        F.col("_ix.recon_norm").alias("recon_norm"),
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 16,
    k_codes: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """IVF-PQ search with asymmetric distance (ADC): the full FAISS-shape
    composition of the coarse quantizer and the residual product codes.

    Query side: probe the ``nprobe`` nearest cells; per (query, cell)
    the scorer builds the m×k_codes lookup table of
    ``q_subvector · codebook_entry`` once, so each candidate costs ``m``
    table lookups + adds — never a decode, never a full-dimension dot:

        q·x̂ = q·C[cell] + Σ_j LUT_j[code_j],  cos = q·x̂ / (|q|·|x̂|)

    with ``|x̂|`` precomputed at index time.  Candidate generation is the
    same broadcast cell equi-join as :func:`ann_ivf_topk` — at 100 TB the
    index is written bucketed by cell and a probe is a partition-pruned
    scan over m-byte codes instead of full vectors (the memory-bandwidth
    win that makes billion-scale ANN feasible).  Determinism: the LUT
    sums are fixed-order numpy reductions per row and the final ranking
    rounds before ordering, same contract as every ANN path here.
    """
    # ONE sample collect trains both quantizers (guide §1.2): the PQ
    # residual trainer needs exactly the rows the IVF trainer sampled
    # (same seed/pct/cap/order), so assigning the sample to cells and
    # subtracting centroids driver-side — the same arithmetic as
    # ``ivf_cell_col``/the old residual UDF, over ~100k×64 doubles —
    # replaces a full-corpus cell-assign UDF pass, a full-corpus residual
    # UDF pass, and a second sample-collect job.
    X = _collect_train_matrix(embeddings)
    C = _ivf_lloyd(X, n_cells, n_iters=2)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    R = X - C[(Xn @ Cn.T).argmax(axis=1)]
    books = _pq_lloyd(R, m=m, k=k_codes, n_iters=3)

    index = ivfpq_encode(embeddings, C, books)
    probes = queries.select(
        "query_id",
        "query_vec",
        F.explode(
            ivf_probe_cells_col(F.col("query_vec"), C, nprobe)
        ).alias("cell"),
    )
    cands = index.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )

    mm, kc, dsub = books.shape

    @F.pandas_udf("double")
    def adc_sim(
        q: pd.Series, cell: pd.Series, codes: pd.Series, rnorm: pd.Series
    ) -> pd.Series:
        Q = np.stack(q.to_numpy()).astype(np.float64)
        cells = cell.to_numpy().astype(np.int64)
        Cd = np.stack(codes.to_numpy()).astype(np.int64)
        norms = rnorm.to_numpy().astype(np.float64)
        out = np.empty(len(Q))
        # one LUT per distinct query in the batch (exact byte-identity
        # grouping — a hashed float key could collide); queries are few,
        # candidates are many
        groups: dict[bytes, list[int]] = {}
        for i in range(len(Q)):
            groups.setdefault(Q[i].tobytes(), []).append(i)
        for qbytes, idxs in groups.items():
            qv = np.frombuffer(qbytes, dtype=np.float64)
            lut = np.empty((mm, kc))
            for j in range(mm):
                lut[j] = books[j] @ qv[j * dsub : (j + 1) * dsub]
            qnorm = max(np.linalg.norm(qv), 1e-12)
            qdotC = C @ qv
            sub = np.asarray(idxs)
            dots = qdotC[cells[sub]] + lut[
                np.arange(mm)[None, :], Cd[sub]
            ].sum(axis=1)
            out[sub] = dots / (qnorm * np.maximum(norms[sub], 1e-12))
        return pd.Series(out)

    sim = F.round(
        adc_sim(
            F.col("query_vec"), F.col("cell"), F.col("pq_codes"), F.col("recon_norm")
        ),
        round_digits,
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cands.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"), "sim")
    )
