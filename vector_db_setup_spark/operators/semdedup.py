"""SemDeDup: cluster-partitioned semantic deduplication.

Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication" (2023): k-means the embedding space, compare
pairs ONLY within a cluster, and inside each duplicate neighborhood
keep the member with the LOWEST similarity to its centroid (the most
"marginal" exemplar — it preserves the cluster's diversity better than
a random or central keeper). The clustering is what makes the pass
tractable: pairwise work is sum(|cluster|²) instead of N², and the
cluster id is a single-assignment bucketing column, so the whole
comparison stage rides the same grouped-GEMM kernel as the LSH-bucketed
near-dup families (operators/similarity.cosine_pairs_by_column).

The reference deployment (dangni02/vector-db-setup, a pgvector store —
`fever_multi_agent.py:67-75`) has no semantic dedup; this module is
part of the mandated training-data-pipeline extension surface, and the
cluster-partitioned form is its 100 TB path: assignment is one map
stage against literal centroids (operators/ann.ivf_assign), the GEMM is
bucket-bounded, and the keeper rule needs only a per-pair comparison —
no corpus-wide ordering anywhere.

Keeper rule (exact, deterministic, SQL-expressible): a vector is
REMOVED iff some same-cluster neighbor with cosine >= tau sits FARTHER
from the shared centroid (ties on the 6-dp-rounded distance break
toward the smaller id, which survives). This is the pairwise-domination
form of the paper's keep-least-central rule: within any tau-neighbor
group the farthest member always survives, duplicates dominated by a
farther neighbor are dropped, and the outcome needs no connected-
components closure (the CC form — keep one per transitive group —
already exists as queries.semantic_dedup_keepers; this operator is the
paper-faithful centroid-aware variant). All comparisons use the repo's
6-decimal rounding so the DuckDB oracle reproduces them exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_db_setup_spark.operators.ann import (
    ivf_assign,
    ivf_assign_auto,
    ivf_assign_gemm,
)
from vector_db_setup_spark.operators.similarity import cosine_pairs_by_column


def semdedup_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    assign: str = "auto",
) -> DataFrame:
    """The assignment half of `semdedup_keepers`: emb columns +
    (cluster_id, _cd). Exposed so callers can build it ONCE, persist
    it, and pass it back via ``assigned`` — the keeper pipeline reads
    the assignment three times (pair generation plus both sides of the
    domination join) and Catalyst recomputes the whole BoW/argmin
    lineage per read otherwise (profiled: 3× the assignment cost on
    every invocation of queries.semdedup_doc_keepers)."""
    assign_fn = {"auto": ivf_assign_auto, "gemm": ivf_assign_gemm}.get(
        assign, ivf_assign
    )
    return assign_fn(emb, centroids, vec_col=vec_col, dist_col="_cd")


def semdedup_keepers(
    emb: DataFrame,
    centroids: np.ndarray | None,
    tau: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_rows: int | None = None,
    assign: str = "auto",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Keepers after cluster-partitioned semantic dedup.

    Returns (id_col, cluster_id, centroid_dist) for every surviving
    vector; centroid_dist is the 6-dp-rounded L2 distance to the
    assigned centroid (the value the keeper rule compares on).

    `centroids` is the trained codebook (k x d) — use
    operators.ann.kmeans_centroids for a real training pass, or any
    deterministic seed set when an exact replay matters (the oracled
    query uses fixture-derived seeds so DuckDB can recompute them).

    `tau` is applied to the 6-dp-ROUNDED cosine; a safe under-bound is
    pushed into the GEMM kernel (same boundary discipline as
    semantic_dedup_keepers — the kernel must not emit all m²/2 pairs,
    and an unrounded boundary edge must not flip keeper decisions
    between engines).

    `max_cluster_rows` is the hot-bucket guard inherited from
    cosine_pairs_by_column: clusters larger than the cap emit no pairs
    (their members all survive — route such degenerate clusters through
    exact dedup or re-train with larger k). At scale, size k so that
    N/k keeps the per-cluster GEMM bounded (the paper uses ~100k
    clusters at web scale).

    `assign`: "expr" = native-expression argmin (SQL-replayable — the
    oracled query's form), "gemm" = Arrow-batched BLAS argmin
    (ivf_assign_gemm — the large-k scale path), "auto" (default) =
    gemm when k > 16. Both produce identical assignments up to
    ULP-degenerate ties (exactly identical on integer-count vectors).

    `assigned`: a PREBUILT `semdedup_assign` frame (emb + cluster_id +
    _cd). The pipeline reads the assignment three times and Catalyst
    does not reuse the lineage across reads, so callers should pass a
    persisted view (queries.py memoizes one per session, the same
    pattern as minhash's banded view); None = build from ``emb`` and
    recompute per read.
    """
    if assigned is None:
        if centroids is None:
            # len(None) inside semdedup_assign would raise an opaque
            # TypeError three calls deep (ADVICE r13)
            raise ValueError(
                "semdedup_keepers needs either a trained `centroids` "
                "codebook or a prebuilt `assigned` frame — both were "
                "None"
            )
        assigned = semdedup_assign(emb, centroids, vec_col, assign)
    assigned = assigned.withColumn("_d0", F.round("_cd", 6))
    pairs = cosine_pairs_by_column(
        assigned,
        "cluster_id",
        vec_col=vec_col,
        id_col=id_col,
        # round(x,6) >= tau  =>  x > tau - 5.1e-7: under-bound, exact
        # after the rounded filter below.
        min_cosine=tau - 5.1e-7,
        max_bucket_rows=max_cluster_rows,
    ).filter(F.round("cosine", 6) >= tau)
    sym = pairs.select(
        F.col("id_a").alias("x"), F.col("id_b").alias("p")
    ).union(pairs.select(F.col("id_b").alias("x"), F.col("id_a").alias("p")))
    dists = assigned.select(F.col(id_col).alias("_did"), F.col("_d0"))
    xj = sym.join(dists, sym.x == dists._did).select(
        "x", "p", F.col("_d0").alias("dx")
    )
    pj = xj.join(dists, xj.p == dists._did).select(
        "x", "p", F.col("_d0").alias("dp"), "dx"
    )
    removed = (
        pj.filter(
            (F.col("dp") > F.col("dx"))
            | ((F.col("dp") == F.col("dx")) & (F.col("p") < F.col("x")))
        )
        .select(F.col("x").alias("_rid"))
        .distinct()
    )
    return (
        assigned.join(
            removed, assigned[id_col] == removed._rid, "left_anti"
        ).select(
            id_col,
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("_d0").alias("centroid_dist"),
        )
    )
