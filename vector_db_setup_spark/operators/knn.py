"""Exact K-nearest-neighbor search — the reference's flagship query.

Reference semantics (fever_multi_agent.py:67-75):

    SELECT id, content, embedding <-> %s::vector AS distance
    FROM fever_documents ORDER BY distance LIMIT %s

i.e. brute-force exact scan + top-k heap (the repo creates no ANN index —
zero DDL anywhere, SURVEY.md §2.9 V2).

Spark physical story:
- Single-query KNN: per-row distance + ``orderBy().limit(k)`` compiles to
  ``TakeOrderedAndProject`` — each partition keeps a k-element heap, the
  driver merges P heaps. NO full shuffle, NO global sort. This is exactly
  the plan that survives 100 TB / 1000 executors: cost is one scan plus
  O(P·k) merge.
- Batch KNN (Q queries × N docs): broadcast the *queries* side (small) so
  the big corpus never shuffles; rank per query with a window. At scale,
  prune candidates first with LSH/IVF (see operators/ann.py) to avoid the
  Q×N product.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_db_setup_spark.functions.vector import (
    cosine_distance,
    dot_product,
    l2_distance,
    vector_literal,
)

_METRICS = {
    "l2": l2_distance,
    "cosine": cosine_distance,
    # max inner product: negate so "smaller distance = better" uniformly
    "dot": lambda a, b: -dot_product(a, b),
}


def distance_expr(metric: str, a, b) -> Column:
    try:
        return _METRICS[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")


def knn_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: Sequence[float],
    k: int = 5,
    metric: str = "l2",
    dist_col: str = "distance",
    id_col: str | None = None,
) -> DataFrame:
    """Exact top-k nearest rows to a literal query vector.

    Mirrors the reference's ORDER BY <-> LIMIT k (k=5 default,
    fever_multi_agent.py:58). Physical plan: TakeOrderedAndProject —
    verify with ``.explain()``; there must be no Exchange before the
    top-k.

    Pass ``id_col`` to total-order the cut: ties at the k-th distance
    (duplicate vectors) are then broken deterministically on the id, the
    same order every DuckDB oracle uses, instead of arbitrarily.

    One form at every width and metric: the native ``distance_expr``
    against a ``vector_literal`` of the query, the expression the DuckDB
    oracles replay. At the reference's 768-d and probe sizes (≤ 2,200
    rows) it answers faster than an Arrow-batched numpy kernel, whose
    Python-worker round trip costs more than the arithmetic it saves
    (SCALE_EXPERIMENTS.md "Kernel crossover by dimension"). Batch
    search (many queries) takes the GEMM kernel in operators/similarity.
    """
    # nulls LAST: a NULL/wrong-width vector yields a NULL distance,
    # and Spark's default asc() is NULLS FIRST — which would rank every
    # malformed row AHEAD of all real neighbors and fill the top-k.
    # DuckDB's ASC is nulls-last, so this is also the oracle's order.
    order = [F.col(dist_col).asc_nulls_last()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    dist = distance_expr(metric, F.col(vec_col), vector_literal(query_vec))
    return df.withColumn(dist_col, dist).orderBy(*order).limit(k)


def batch_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    query_vec_col: str = "embedding",
    corpus_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    metric: str = "l2",
    dist_col: str = "distance",
    corpus_id_col: str | None = None,
) -> DataFrame:
    """Top-k corpus neighbors for EVERY query row (SURVEY.md §2.3 J2).

    queries (Q rows, small) is broadcast against corpus (N rows, huge):
    the corpus never moves. Ranking shuffles only Q×N candidate rows
    keyed by query_id — at real scale, feed a pruned candidate set (ANN
    pre-bucketing) instead of the full cross product.

    Pass ``corpus_id_col`` to break distance ties deterministically on
    the corpus id — required for result-equivalence with the GEMM path
    (``similarity.batch_knn_blocked``), which always tie-breaks on id.
    """
    # __rn included: withColumn would silently overwrite it and the
    # tail drop() would remove the caller's column from the result
    # (r13 review pass — bloom_probe's clash class)
    clash = {query_id_col, "__qvec", "__rn"} & set(corpus.columns)
    if clash:
        raise ValueError(
            f"corpus already has column(s) {sorted(clash)}; rename them "
            "or pass a different query_id_col (the crossJoin would make "
            "the window partition key ambiguous)"
        )
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).alias("__qvec"),
    )
    pairs = corpus.crossJoin(F.broadcast(q))
    scored = pairs.withColumn(
        dist_col, distance_expr(metric, F.col(corpus_vec_col), F.col("__qvec"))
    ).drop("__qvec")
    # nulls LAST (same reasoning as knn_topk): a malformed corpus row's
    # NULL distance must not occupy rank 1 in EVERY query's window
    order = [F.col(dist_col).asc_nulls_last()]
    if corpus_id_col is not None:
        order.append(F.col(corpus_id_col).asc())
    w = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
