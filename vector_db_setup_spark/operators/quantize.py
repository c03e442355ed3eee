"""Scalar (int8) embedding quantization — the vector-compression path.

pgvector ships halfvec/quantization because at index scale the vector
bytes dominate IO; at 100 TB the same pressure says: store embeddings
as int8 codes (4x smaller than float32, 8x than float64) and rerank
the few candidates that matter at full precision. This module is that
scheme as pure DataFrame expressions:

  fit   : per-dimension [lo, hi] over the corpus — d min/max aggregate
          slots in ONE pass (codegen, no explode, no shuffle beyond
          the single-row aggregate)
  encode: code_i = round(255 * (x_i - lo_i) / (hi_i - lo_i)) clamped
          to [0, 255] — a transform() lambda over the array, JVM-side
  decode: x̂_i = lo_i + code_i * (hi_i - lo_i) / 255

The quantizer params travel as ARRAY columns on a one-row DataFrame
broadcast onto the corpus — no driver round-trip, so fit+encode
composes lazily into a single job.

Guarantee: reconstruction error per dimension is at most half a step,
(hi_i - lo_i) / 510 — asserted in tests and surfaced by the
`embedding_quantization_error` query (exact DuckDB oracle: the
arithmetic is deterministic IEEE double math on both engines).

KNN over codes: L2 on decoded vectors approximates true L2; rank by
it, keep a candidate margin, rerank exactly. `quantized_knn` wires
that shape; its recall against exact KNN is measured in tests (not
oracled — the approximation is the point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "fit_scalar_quantizer",
    "quantize",
    "dequantize_expr",
    "attach_quantizer",
    "pq_train",
    "pq_encode",
    "pq_adc_distance_expr",
    "pq_search",
]


def fit_scalar_quantizer(
    emb: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """One-row DataFrame (lo ARRAY<DOUBLE>, hi ARRAY<DOUBLE>) of
    per-dimension corpus bounds. d min + d max aggregate slots in one
    scan — partial aggregation map-side, a single-row shuffle. `dim`
    defaults to the first row's length (one cheap lookup)."""
    if dim is None:
        first = emb.select(vec_col).first()
        if first is None:
            raise ValueError("cannot fit a quantizer on an empty corpus")
        dim = len(first[0])
    # one parsed expression per output array: the per-slot
    # F.min(F.col()[i].cast(...)) form costs ~4 py4j round trips per
    # dimension (~0.5 s of driver wall at 64 dims, re-paid every
    # invocation); a single F.expr parse yields the identical analyzed
    # tree (min/max over cast getItem)
    v = f"`{vec_col}`"
    lo = "array(" + ",".join(
        f"min(CAST({v}[{i}] AS DOUBLE))" for i in range(dim)
    ) + ")"
    hi = "array(" + ",".join(
        f"max(CAST({v}[{i}] AS DOUBLE))" for i in range(dim)
    ) + ")"
    return emb.agg(
        F.expr(lo).alias("lo"), F.expr(hi).alias("hi")
    )


def attach_quantizer(df: DataFrame, quantizer: DataFrame) -> DataFrame:
    """Broadcast the one-row (lo, hi) onto every row — the params are
    columns, never driver values, so the whole pipeline stays lazy."""
    return df.crossJoin(F.broadcast(quantizer))


def quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Append int codes (ARRAY<INT> in [0,255]) for `vec_col`, using the
    attached lo/hi columns. Degenerate dims (hi == lo) encode as 0 and
    decode back to lo exactly."""
    # sequence(0, -1) in Spark steps DOWNWARD ([0, -1]), so an empty
    # vector must short-circuit to an empty code array, not two nulls
    return df.withColumn(
        out_col,
        F.expr(
            f"""
            CASE WHEN size({vec_col}) = 0 THEN CAST(array() AS ARRAY<INT>)
            ELSE transform(sequence(0, size({vec_col}) - 1), i ->
                CASE WHEN hi[i] = lo[i] THEN 0
                     ELSE least(255, greatest(0,
                          CAST(round(255.0D * (CAST({vec_col}[i] AS DOUBLE) - lo[i])
                                     / (hi[i] - lo[i])) AS INT)))
                END)
            END
            """
        ),
    )


def dequantize_expr(codes_col: str = "codes"):
    """Column expression: decoded ARRAY<DOUBLE> from codes + lo/hi."""
    return F.expr(
        f"""
        CASE WHEN size({codes_col}) = 0 THEN CAST(array() AS ARRAY<DOUBLE>)
        ELSE transform(sequence(0, size({codes_col}) - 1), i ->
            lo[i] + CAST({codes_col}[i] AS DOUBLE) * (hi[i] - lo[i]) / 255.0D)
        END
        """
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the second half of the modern big-vector
# stack (IVF routes, PQ compresses; FAISS's IVFPQ shape). A d-dim
# vector becomes m sub-vector codes of log2(ksub) bits each: 64-d
# float32 -> 8 codes of 4 bits ≈ 64x smaller than float64. Search uses
# asymmetric distance computation (ADC): per query, one m x ksub
# lookup table of exact sub-distances, then distance ≈ sum of m table
# lookups — a pure codegen aggregate over the codes, no vector math
# per row. Training is seeded KMeans per subspace (batch, offline —
# the same kmeans_centroids as the IVF centroids).
# ---------------------------------------------------------------------------


def pq_train(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
):
    """Train m sub-quantizer codebooks of ksub centroids each over
    contiguous d/m-dim sub-vectors. Returns numpy (m, ksub, dsub).
    One seeded ``kmeans_centroids`` fit per subspace — deterministic
    for a fixed dataset + seed."""
    import numpy as np

    from vector_db_setup_spark.operators.ann import kmeans_centroids

    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    # persist for the duration of training: m KMeans fits (plus their
    # iterations) would otherwise each re-scan the source. Only
    # unpersist what WE persisted — a caller-persisted input must keep
    # its cache after training (unpersisting someone else's cache is a
    # silent perf regression on their next action).
    ours = not emb.is_cached
    if ours:
        emb = emb.persist()
    try:
        for j in range(m):
            sub = emb.select(
                F.slice(F.col(vec_col), j * dsub + 1, dsub).alias("embedding")
            )
            books.append(
                kmeans_centroids(sub, k=ksub, seed=seed + j, max_iter=max_iter)
            )
    finally:
        if ours:
            emb.unpersist()
    return np.stack(books)


def _sub_sq_dist(vec_col: str, j: int, dsub: int, centroid) -> "F.Column":
    from vector_db_setup_spark.functions.vector import vector_literal

    sub = F.slice(F.col(vec_col), j * dsub + 1, dsub)
    cent = vector_literal(centroid)
    return F.aggregate(
        F.zip_with(
            sub.cast("array<double>"), cent, lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Append ARRAY<INT> of m codes: per subspace, the argmin-distance
    centroid index. m x ksub distance expressions, all whole-stage
    codegen — encoding is a pure map stage (the codebooks travel as
    literals, KBs)."""
    m, ksub, dsub = codebooks.shape
    code_cols = []
    for j in range(m):
        dists = F.array(
            *[_sub_sq_dist(vec_col, j, dsub, codebooks[j][c]) for c in range(ksub)]
        )
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return df.withColumn(out_col, F.array(*code_cols))


def pq_adc_distance_expr(codebooks, query_vec, codes_col: str = "pq_codes"):
    """Column: approximate squared L2 from the query to a coded vector,
    as sum over subspaces of the PRECOMPUTED exact sub-distance between
    the query's sub-vector and the code's centroid. The m x ksub lookup
    table is built driver-side per query (numpy, microseconds) and
    inlined as a literal — each row then costs m array lookups + adds."""
    import numpy as np

    from vector_db_setup_spark.functions.vector import matrix_literal

    q = np.asarray(query_vec, dtype=np.float64)
    m, ksub, dsub = codebooks.shape
    lut = np.stack(
        [
            ((codebooks[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
            for j in range(m)
        ]
    )  # (m, ksub) exact sub-distances
    # one string literal (functions/vector.matrix_literal): NaN/Inf
    # cells — a non-finite query or codebook, or a squared distance
    # that overflows — travel through it like any other value
    lut_lit = matrix_literal(lut)
    # element_at is 1-based; codes are 0-based
    return F.aggregate(
        F.zip_with(
            lut_lit,
            F.col(codes_col),
            lambda row, c: F.element_at(row, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_search(
    coded: DataFrame,
    codebooks,
    query_vec,
    k: int = 10,
    rerank: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """ADC candidate scan + exact rerank: rank by the m-lookup
    approximate distance (reads only codes at scale), keep rerank*k
    candidates, re-score those exactly at full precision. Returns
    (id, distance) — distances are EXACT for everything returned."""
    from vector_db_setup_spark.functions.vector import (
        l2_distance,
        vector_literal,
    )

    adc = coded.withColumn(
        "adc", pq_adc_distance_expr(codebooks, query_vec, codes_col)
    )
    cands = adc.orderBy(F.col("adc").asc(), F.col(id_col).asc()).limit(
        rerank * k
    )
    return (
        cands.withColumn(
            "distance",
            F.round(
                l2_distance(
                    F.col(vec_col).cast("array<double>"),
                    vector_literal(query_vec),
                ),
                6,
            ),
        )
        .select(id_col, "distance")
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )
