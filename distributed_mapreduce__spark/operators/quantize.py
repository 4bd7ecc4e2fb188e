"""Embedding quantization (vector-storage compression).

Embedding tables dominate storage in a multimodal/retrieval corpus:
100 TB of float32 embeddings quantize 4× to int8 with ~0.1% cosine
error — the standard trade every vector store makes. This module is
symmetric per-vector scalar quantization:

    scale = max(|x_i|) / 127          (per vector)
    q_i   = round(x_i / scale)        (int8 range [-127, 127])
    x̂_i   = q_i · scale               (dequantized view)

Everything is per-row column algebra (``transform`` / ``aggregate``
higher-order functions on the array column): zero shuffle, zero Python,
scan-speed at any scale, and — because every step is a fixed IEEE op
chain — bit-reproducible in the DuckDB oracle (tests/test_quantize.py
replays scale, codes, and reconstruction error exactly).

Zero vectors get scale 1.0 (codes all zero) so the dequantized view is
well-defined without NULL propagation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def scale_expr(vec_col: str = "embedding") -> Column:
    """Per-vector symmetric scale: max(|x|)/127, or 1.0 for the zero
    vector."""
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    return F.when(amax == 0.0, F.lit(1.0)).otherwise(amax / F.lit(127.0))


def quantize_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add (scale, codes): int8-range codes + the per-vector scale.

    ``codes`` is ``array<int>`` holding values in [-127, 127] — parquet
    dictionary/byte encodings store them compactly; a fixed-width
    binary packing would drop to 1 byte/dim exactly."""
    sc = scale_expr(vec_col)
    return df.withColumn("scale", sc).withColumn(
        "codes",
        F.transform(
            _as_double(F.col(vec_col)),
            lambda x: F.round(x / F.col("scale"), 0).cast("int"),
        ),
    )


def dequantize_expr(codes_col: str = "codes", scale_col: str = "scale") -> Column:
    """Reconstructed vector: codes · scale (array<double>)."""
    return F.transform(
        F.col(codes_col), lambda q: q.cast("double") * F.col(scale_col)
    )


def reconstruction_report(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, scale, max_abs_err, dot_err): per-vector quantization
    error — max absolute component error (bounded by scale/2) and the
    self-dot-product relative shift, the quantity retrieval quality
    actually depends on. One projection, no shuffle."""
    q = quantize_vectors(df, vec_col)
    deq = dequantize_expr()
    orig = _as_double(F.col(vec_col))
    err = F.array_max(
        F.zip_with(orig, deq, lambda a, b: F.abs(a - b))
    )
    dot = lambda u, v: F.aggregate(  # noqa: E731 — left-to-right fold
        F.zip_with(u, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    return q.select(
        "vec_id",
        "scale",
        err.alias("max_abs_err"),
        (F.abs(dot(deq, deq) - dot(orig, orig)) / dot(orig, orig)).alias("dot_err"),
    )


# --- product quantization (PQ) ---------------------------------------------
#
# Scalar int8 gives 4×; PQ gives 32×: split each vector into M
# subvectors, learn a k-means codebook of K centroids per subspace,
# store each vector as M small codes (M·log2(K) bits — 8 subspaces ×
# 16 centroids = 8 nibbles = 4 bytes for a 64-d float vector). The
# memory-bound ANN serving pattern: codes live in RAM, vectors are
# reconstructed (or distance tables used) on the fly. Training is M
# seeded distributed k-means fits; encoding is an embarrassingly-
# parallel model transform; codebooks are M·K tiny rows broadcast
# everywhere else.


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Learn PQ codebooks: (sub, code, centroid array<double>).

    ``m`` subspaces of dim/m dims each, ``k`` centroids per subspace —
    one seeded distributed KMeans fit per subspace (fit on a corpus
    sample at real scale, exactly like IVF's coarse quantizer)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = vectors.sparkSession
    dim = len(vectors.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m
    rows = []
    for sub in range(m):
        feats = vectors.select(
            array_to_vector(
                F.slice(
                    F.transform(F.col(vec_col), lambda x: x.cast("double")),
                    sub * sub_d + 1,
                    sub_d,
                )
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + sub, featuresCol="features").fit(feats)
        rows += [
            (sub, code, [float(x) for x in c])
            for code, c in enumerate(model.clusterCenters())
        ]
    return local_frame(
        spark, rows, "sub int, code int, centroid array<double>"
    )


def pq_encode(
    vectors: DataFrame, codebooks: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, codes array<int>): nearest-centroid code per subspace.

    Codebooks broadcast (M·K rows); assignment is one explode + join +
    min-distance window per subspace — no vector shuffle. ``codes`` is
    ordered by subspace."""
    from .relational import top_k_per_group

    m = codebooks.agg(F.max("sub")).first()[0] + 1
    dim_info = codebooks.select(F.size("centroid")).first()[0]
    subs = vectors.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(
                    F.transform(F.col(vec_col), lambda x: x.cast("double")),
                    s * dim_info + 1,
                    dim_info,
                ),
            )
        ).alias("sub", "subvec"),
    )
    d2 = F.aggregate(
        F.zip_with("subvec", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = top_k_per_group(
        subs.join(F.broadcast(codebooks), "sub").withColumn("d2", d2),
        ["vec_id", "sub"],
        [F.asc("d2"), F.asc("code")],
        k=1,
        rn_col="_rn",
    )
    return (
        best.groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )


def pq_search(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    n_candidates: int = 50,
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, score): PQ ANN with exact rerank — the
    standard two-stage serving pattern.

    Stage 1 scores queries against the PQ *reconstruction* (codes
    decode to M·K broadcast centroids — at serving scale this is the
    memory-resident index) and keeps ``n_candidates`` per query; stage
    2 reranks ONLY those candidates against the original vectors with
    exact dot products. The exact pass touches |Q|·n_candidates rows —
    candidate-restricted, never the full corpus, the same posture as
    the LSH verify join (operators/dedup.py). With unit-norm inputs the
    dot product is cosine similarity."""
    from .relational import top_k_per_group
    from .similarity import cosine_topk_blas

    # pq_decode always reconstructs into an "embedding" column, so align
    # the queries side to that name — otherwise a non-default vec_col
    # would make cosine_topk_blas look up the wrong query column.
    dec = pq_decode(pq_encode(vectors, codebooks, vec_col), codebooks)
    q_aligned = queries.select("vec_id", F.col(vec_col).alias("embedding"))
    cand = cosine_topk_blas(dec, q_aligned, k=n_candidates).select(
        "query_id", "neighbor_id"
    )
    pool = cand.join(
        vectors.select(
            F.col("vec_id").alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("_nv"),
        ),
        "neighbor_id",
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col(vec_col)).alias("_qv")
    )
    scored = pool.join(q, "query_id").withColumn(
        "score",
        F.aggregate(
            F.zip_with("_nv", "_qv", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("score"), F.asc("neighbor_id")], k=k,
        rn_col="_rn",
    ).select("query_id", "neighbor_id", "score")


def pq_decode(encoded: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(vec_id, embedding array<double>): reconstruct from codes —
    concatenated subspace centroids. Codebooks broadcast; pure column
    algebra."""
    joined = encoded.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    ).join(F.broadcast(codebooks), ["sub", "code"])
    return joined.groupBy("vec_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "centroid"))),
                lambda s: s["centroid"],
            )
        ).alias("embedding")
    )
