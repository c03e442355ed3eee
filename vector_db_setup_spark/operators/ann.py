"""Approximate-nearest-neighbor batch index builds (SURVEY.md §2.9 V6).

The reference does exact KNN only (no ANN index anywhere — zero DDL;
setup.sh:73-77 just restores a dump). The driver mandate is *batch* index
builds via DataFrame ops — online ANN serving stays out of Spark
(BASELINE.json "spark_approach").

Two index families, both as plain DataFrame transforms:

- **IVF** (inverted file): KMeans centroids (trained on the driver over
  a bounded, seeded sample, as FAISS does) → assign each vector to its
  nearest centroid → write partitioned by cluster id. Search probes the
  `nprobe` nearest centroids and scans only those partitions — at
  100 TB, partition pruning on `cluster_id` turns a full corpus scan
  into reading nprobe/k of the data. Batch probes are routed on the
  driver and scored by the same GEMM kernel as exact batch KNN.
- **Random-projection LSH**: seeded Gaussian hyperplanes → sign-bit
  bucket key per vector. Equal keys = candidate bucket; search/dedup
  happens within buckets. Plane generation is a numpy RNG with a fixed
  seed — deterministic across runs and executors.

Both are *batch build + batch search* patterns; the physical win is
locality (bucketed/partitioned storage), not a special runtime.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_db_setup_spark.functions.vector import (
    l2_distance_sq,
    matrix_literal,
    vector_literal,
)
from vector_db_setup_spark.operators.knn import knn_topk
from vector_db_setup_spark.operators.similarity import (
    MAX_QUERY_ROWS,
    CorpusTooLargeError,
    collect_queries,
    l2_topk_candidates,
    rank_topk,
    usable_rows,
)


# FAISS's bound on training points per centroid: the driver-side
# sample stays at most 256·k vectors whatever the corpus size
_KMEANS_POINTS_PER_CENTROID = 256


def kmeans_centroids(
    emb: DataFrame,
    k: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> np.ndarray:
    """Train IVF centroids on the driver: seeded k-means++ and then
    ``max_iter`` Lloyd steps in float64 over a sample of at most 256·k
    vectors. Returns a k×d numpy array.

    The sample is one Spark job: the non-NULL vectors ordered by
    ``xxhash64(vec, seed)`` (then by the vector), first 256·k. So it
    depends only on the data and the seed, not on partitioning or row
    order. Sampled vectors with a non-finite element or a width other
    than the most common one are left out. With fewer distinct vectors
    than k, one centroid per distinct vector is returned (fewer than k
    rows), as MLlib KMeans did."""
    vec = F.col(vec_col)
    pdf = (
        emb.select(vec.alias("v"))
        .where(vec.isNotNull())
        .orderBy(F.xxhash64("v", F.lit(seed)), "v")
        .limit(_KMEANS_POINTS_PER_CENTROID * k)
        .toPandas()
    )
    vecs = [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
    widths, counts = np.unique([len(v) for v in vecs], return_counts=True)
    dim = widths[counts.argmax()] if len(widths) else 0
    x = np.array([v for v in vecs if len(v) == dim and np.isfinite(v).all()])
    if not len(x):
        raise ValueError(f"kmeans_centroids: no usable {vec_col!r} to train on")
    # row order of the sample must not matter either
    x = x[np.lexsort(x.T[::-1])]
    rng = np.random.default_rng(seed)
    cents = _kmeans_pp(x, k, rng)
    xn2 = (x**2).sum(axis=1)
    labels = None
    for _ in range(max_iter):
        d2 = xn2[:, None] - 2.0 * (x @ cents.T) + (cents**2).sum(axis=1)
        new = d2.argmin(axis=1)
        if labels is not None and np.array_equal(new, labels):
            break
        labels = new
        onehot = np.zeros((len(cents), len(x)))
        onehot[labels, np.arange(len(x))] = 1.0
        sizes = onehot.sum(axis=1)
        filled = sizes > 0  # an emptied cluster keeps its centroid
        cents[filled] = (onehot @ x)[filled] / sizes[filled, None]
    return cents


def _kmeans_pp(x: np.ndarray, k: int, rng) -> np.ndarray:
    """k-means++ seeding: each next centroid is a sample row drawn with
    probability ∝ its squared distance to the nearest chosen one. Stops
    early once every row coincides with a chosen centroid."""
    chosen = [int(rng.integers(len(x)))]
    d2 = ((x - x[chosen[0]]) ** 2).sum(axis=1)
    while len(chosen) < k and d2.sum() > 0.0:
        i = int(rng.choice(len(x), p=d2 / d2.sum()))
        chosen.append(i)
        d2 = np.minimum(d2, ((x - x[i]) ** 2).sum(axis=1))
    return x[chosen]


def _refuse_assign_clash(fn: str, emb: DataFrame, dist_col) -> None:
    """Both assignment forms APPEND cluster_id (+ dist_col): an input
    already carrying those names was silently overwritten by the
    expression form (and crashed the GEMM form on a duplicate schema
    field) — refuse loudly instead (r13 review pass, bloom_probe's
    clash class)."""
    clash = {"cluster_id"} | ({dist_col} if dist_col else set())
    clash &= set(emb.columns)
    if clash:
        raise ValueError(
            f"{fn} appends column(s) {sorted(clash)} which already "
            "exist on the input; rename or drop them first"
        )


def ivf_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    dist_col: str | None = None,
) -> DataFrame:
    """Assign each vector its nearest-centroid id as `cluster_id`.

    Centroids ship as one ``matrix_literal`` (k×d doubles — tiny, one
    string literal folded to an array-of-arrays); the argmin is a
    native expression, so assignment is a pure map stage.

    ``dist_col`` additionally emits the L2 distance to the assigned
    centroid (same single map stage; the distance array is computed for
    the argmin anyway). Its consumer is `semdedup.semdedup_assign`
    (through `ivf_assign_auto` at k ≤ 16): `semdedup_keepers` compares
    it to pick which near-duplicate survives. The IVF index writes take
    their drift distance from `ivf_assign_gemm` (`ann_index._assigned`).

    A NULL embedding gets a NULL cluster_id and is therefore excluded
    from every probe (isin / equi-join drop null keys) — validate
    not_null upstream (operators/validate) if unsearchable rows must
    be an error rather than absent.
    """
    _refuse_assign_clash("ivf_assign", emb, dist_col)
    cents = matrix_literal(centroids)
    dists = F.transform(cents, lambda c: l2_distance_sq(F.col(vec_col), c))
    out = emb.withColumn(
        "cluster_id", F.array_position(dists, F.array_min(dists)).cast("int") - 1
    )
    if dist_col is not None:
        out = out.withColumn(dist_col, F.sqrt(F.array_min(dists)))
    return out


def ivf_assign_gemm(
    emb: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    dist_col: str | None = None,
) -> DataFrame:
    """`ivf_assign` as one Arrow-batched GEMM — the same contract
    (nearest-centroid `cluster_id`, ties to the lowest id, optional L2
    `dist_col`), with the centroids in the kernel's closure instead of a
    k×d literal in the plan. The IVF index build and maintenance
    (ann_index) use it at every k: planning the literal argmin cost
    seconds per call at 768-d.

    Why both exist: the native-expression form evaluates k distance
    expressions PER ROW — O(N·k·d) in codegen scalar land, perfect at
    k≤16 (and the only form a SQL oracle can replay), but k is supposed
    to GROW with the corpus (IVF: k≈sqrt(N); SemDeDup: k≈N/1000), which
    turns assignment itself quadratic-ish in N. Measured at 500k docs /
    k=500: the expression path made the SemDeDup pass 408 s warm
    (sf-decade exponent 1.72); this kernel computes the same argmin as
    `d² = ||x||² − 2xCᵀ + ||c||²` over BLAS (SCALE_EXPERIMENTS "Span
    dedup + SemDeDup scaling").

    Parity: np.argmin returns the FIRST minimum — the same tie rule as
    the expression form's array_position(min). For integer-valued
    vectors (the exact-oracle fixtures) the expansion is exact in
    float64; for arbitrary floats the two forms can disagree only on
    ULP-degenerate ties.
    """
    from pyspark.sql import types as T

    _refuse_assign_clash("ivf_assign_gemm", emb, dist_col)
    cents = np.asarray(centroids, dtype=np.float64)
    cn = (cents**2).sum(axis=1)
    # COPY the schema: StructType.add mutates in place, and emb.schema
    # is the live schema object of the input frame
    out_schema = T.StructType(list(emb.schema.fields))
    out_schema.add("cluster_id", "integer")
    if dist_col is not None:
        out_schema.add(dist_col, "double")

    def _kernel(batches):
        dim = cents.shape[1]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = pdf[vec_col].to_numpy()
            # NULL/ragged tolerance — the expression path's contract:
            # a NULL (or wrong-width) vector lands with NULL cluster_id
            # and is excluded from probes, it must not np.stack-crash
            # the whole maintenance job (k-dependent behavior: the
            # same batch was tolerated at k<=16 and aborted at k>16)
            ok = usable_rows(vecs, dim)
            pdf = pdf.copy()
            cid_out = np.full(len(pdf), None, dtype=object)
            dist_out = np.full(len(pdf), None, dtype=object)
            if ok.any():
                mat = np.stack(vecs[ok]).astype(np.float64)
                d2 = (
                    (mat**2).sum(axis=1)[:, None]
                    - 2.0 * (mat @ cents.T)
                    + cn[None, :]
                )
                cid = d2.argmin(axis=1)
                cid_out[ok] = [int(c) for c in cid]
                if dist_col is not None:
                    best = np.sqrt(
                        np.maximum(d2[np.arange(len(cid)), cid], 0.0)
                    )
                    dist_out[ok] = [float(x) for x in best]
            pdf["cluster_id"] = cid_out
            if dist_col is not None:
                pdf[dist_col] = dist_out
            yield pdf

    return emb.mapInPandas(_kernel, schema=out_schema)


# above this k the per-row expression argmin loses to one Arrow GEMM
_GEMM_ASSIGN_K = 16


def ivf_assign_auto(
    emb: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    dist_col: str | None = None,
) -> DataFrame:
    """Dispatch between the two assignment forms on k: the native
    expression below 16 centroids (SQL-replayable, zero Python), the
    Arrow GEMM above (the large-k scale path — see ivf_assign_gemm's
    measurement). The IVF index build and maintenance in ann_index call
    ivf_assign_gemm directly, so no k×d centroid literal is planned
    there; oracled queries call ivf_assign directly so their plan is
    the one their SQL replays."""
    if len(centroids) > _GEMM_ASSIGN_K:
        return ivf_assign_gemm(emb, centroids, vec_col, dist_col)
    return ivf_assign(emb, centroids, vec_col, dist_col)


def ivf_write(
    assigned: DataFrame, path: str, partition_col: str = "cluster_id"
) -> None:
    """Materialize the IVF index: parquet partitioned by cluster id, so a
    probe reads only its clusters' directories (partition pruning)."""
    assigned.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def probe_ids(
    centroids: np.ndarray, query_vec, nprobe: int, metric: str = "l2"
) -> list[int]:
    """The shared cluster-routing heuristic: ids of the ``nprobe`` best
    centroids FOR THE REQUESTED METRIC — L2 by squared distance, cosine
    by centroid cosine, dot by centroid inner product. One function so
    `ivf_search` and the versioned `ann_index.search_ivf_index` can
    never diverge on routing (the r-review L2-for-everything bug class
    fixes once, everywhere)."""
    cents = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    if metric == "l2":
        score = -(((cents - q) ** 2).sum(axis=1))  # higher = better
    elif metric == "cosine":
        cn = np.linalg.norm(cents, axis=1)
        cn[cn == 0.0] = 1.0
        qn = np.linalg.norm(q) or 1.0
        score = (cents @ q) / (cn * qn)
    elif metric == "dot":
        score = cents @ q
    else:
        raise ValueError(f"unknown metric: {metric}")
    # stable: centroids tied on the score go to the lower cluster id
    return [int(i) for i in np.argsort(-score, kind="stable")[:nprobe]]


def ivf_search(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    metric: str = "l2",
    id_col: str | None = "vec_id",
) -> DataFrame:
    """Probe the nprobe best centroids FOR THE REQUESTED METRIC, exact
    top-k within them.

    The cluster_id filter is a pushable predicate: over an `ivf_write`
    layout it prunes partitions before any IO.

    Probe routing follows `metric`: L2 by squared distance, cosine by
    centroid cosine, dot by centroid inner product (the standard
    cluster-MIPS heuristic — centroids average away member norms, so
    dot recall is softer than L2/cosine; raise nprobe accordingly).
    Routing probes by L2 regardless of metric — the pre-review behavior
    — silently searched the wrong clusters for cosine/dot queries.
    """
    probe = probe_ids(centroids, query_vec, nprobe, metric)
    cand = assigned.filter(F.col("cluster_id").isin(probe))
    return knn_topk(
        cand, vec_col, [float(x) for x in query_vec], k=k, metric=metric,
        id_col=id_col,
    )


def ivf_search_batch(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    qvec_col: str = "embedding",
    qid_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch ANN search: every query probes its ``nprobe`` nearest
    clusters — the scale form of ``batch_knn_blocked`` (exact Q×N) when
    N is IVF-indexed. Returns (``qid_col``, ``id_col``, distance).

    The queries are collected (at most ``MAX_QUERY_ROWS``; above that
    ``CorpusTooLargeError`` asks the caller to split the batch) and
    routed on the driver by ``probe_ids``' L2 rule, ties to the lower
    cluster id. The queries and a query×cluster probe mask are
    broadcast as numpy; the scan reads only the probed ``cluster_id``s
    (partition pruning over an ``ivf_write`` or index layout) and one
    ``mapInPandas`` GEMM scores each row against just the queries that
    probe its cluster. Candidates and the final (distance, id) rank
    are ``batch_knn_blocked``'s, so at nprobe = #clusters both return
    the same rows. Queries or rows with a NULL vector or a width other
    than the centroids' are left out. Cost: |Q|·nprobe·avg_cluster_size
    distances instead of |Q|·N; recall is governed by nprobe (measured
    in tests vs the exact search).
    """
    from pyspark.sql import types as T

    spark = assigned.sparkSession
    cents = np.asarray(centroids, dtype=np.float64)
    schema = T.StructType(
        [
            T.StructField(qid_col, queries.schema[qid_col].dataType),
            T.StructField(id_col, assigned.schema[id_col].dataType),
            T.StructField("distance", T.DoubleType()),
        ]
    )
    got = collect_queries(
        queries, qid_col, qvec_col, MAX_QUERY_ROWS, cents.shape[1]
    )
    if got is None:
        raise CorpusTooLargeError(
            f"ivf_search_batch: more than {MAX_QUERY_ROWS} queries; "
            "split the batch"
        )
    qids, qmat = got
    if not len(qids):
        return spark.createDataFrame([], schema)
    mask = np.zeros((len(qmat), len(cents)), dtype=bool)
    for i, q in enumerate(qmat):
        mask[i, probe_ids(cents, q, nprobe)] = True
    sc = spark.sparkContext
    b_qids, b_qmat, b_mask = sc.broadcast(qids), sc.broadcast(qmat), sc.broadcast(mask)

    def _probe(batches):
        for pdf in batches:
            cids = pdf["cluster_id"].to_numpy()
            ids, vecs = pdf[id_col].to_numpy(), pdf[vec_col].to_numpy()
            for c in np.unique(cids):
                rows, probing = cids == c, b_mask.value[:, c]
                q, i, d = l2_topk_candidates(
                    ids[rows], vecs[rows],
                    b_qids.value[probing], b_qmat.value[probing], k,
                )
                yield pd.DataFrame({qid_col: q, id_col: i, "distance": d})

    probed = [int(c) for c in np.nonzero(mask.any(axis=0))[0]]
    local = (
        assigned.filter(F.col("cluster_id").isin(probed))
        .select(id_col, vec_col, "cluster_id")
        .mapInPandas(_probe, schema=schema)
    )
    return rank_topk(local, qid_col, id_col, "distance", k)


def random_hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    """Seeded Gaussian hyperplanes for sign-bit LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_expr(planes: np.ndarray, vec_col: str = "embedding"):
    """Sign-bit LSH bucket id as a Column: bit b = sign(v · plane_b).
    Native dot products against literal planes — pure codegen, no
    shuffle, usable several times in one projection (the multi-band
    OR-amplification path computes every band's id in a single scan)."""
    from vector_db_setup_spark.functions.vector import dot_product

    bit_terms = [
        F.when(
            dot_product(F.col(vec_col), vector_literal(p)) > 0,
            F.lit(1 << b).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b, p in enumerate(planes)
    ]
    bucket = bit_terms[0]
    for t in bit_terms[1:]:
        bucket = bucket + t
    return bucket


def lsh_bucket(
    emb: DataFrame,
    planes: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-projection LSH bucket id column: vectors with equal
    `bucket_id` are near-duplicate/near-neighbor candidates."""
    return emb.withColumn("bucket_id", lsh_bucket_expr(planes, vec_col))


def brp_similarity_join(
    emb: DataFrame,
    threshold: float,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """MLlib-native near-neighbor self-join: BucketedRandomProjectionLSH
    `approxSimilarityJoin` (the SURVEY.md §2.3 J2/J3 scale path).

    Returns (id_a, id_b, l2_dist) with id_a < id_b. Precision is exact
    (the join re-computes true L2 on every candidate pair); recall < 1 —
    only pairs sharing a hash bucket in ≥1 table are considered. At
    100 TB this replaces the O(N²) cross join with a shuffle on bucket
    keys: cost scales with bucket occupancy, tuned by `bucket_length`
    (wider → higher recall, bigger buckets) and `num_hash_tables`
    (OR-amplification).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    df = emb.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    ).fit(df)
    pairs = model.approxSimilarityJoin(df, df, threshold, distCol="l2_dist")
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round("l2_dist", 6).alias("l2_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
