"""Distributed cosine-similarity kernels (blocked GEMM).

The naive all-pairs formulation (crossJoin + per-pair zip_with/aggregate)
evaluates interpreted higher-order functions per array element:
O(N²·d) *interpreted* ops. Every operator here instead does real matrix
multiplies (numpy/BLAS) inside Arrow-batched Python stages, and — the
100 TB constraint — NEVER materializes the corpus on the driver:

- ``cosine_topk_pairs_grid``: exact all-pairs top-k. The corpus is split
  into B blocks; each row is routed to the B block-pair groups it
  participates in; each (i,j) group GEMMs block i against block j and
  emits only its local top-k. Pure shuffle + applyInPandas — the driver
  only ever sees B·(B+1)/2 × k candidate rows. Shuffle volume is N·B
  vectors; executor memory per task is two blocks (N/B vectors each), so
  B scales as N grows: B ≈ N·d·8 / target_block_bytes.
- ``cosine_pairs_bucketed``: the LSH-bucketed near-dup path — sign-bit
  bucket per vector (operators/ann.lsh_bucket, a native map stage), then
  per-bucket GEMM via groupBy(bucket).applyInPandas. Cost follows bucket
  occupancy, not N²; recall < 1 by design (near-identical vectors share
  buckets with high probability). This is what replaces the exact grid
  when even N·B shuffle is too much.
- ``cosine_topk_pairs_blocked``: single-broadcast kernel for corpora
  that provably fit on the driver — now guarded by an explicit row-count
  assertion (raises instead of OOMing when misused).
- ``batch_knn_blocked``: queries-side broadcast GEMM against a huge
  corpus; the query side is by definition small, and the collect is now
  guarded with an automatic fallback to the pure-DataFrame
  ``batch_knn_join`` when it isn't.

Result parity: cosine = dot of double-normalized vectors; differs from a
sequential fold only in summation order (≪ 1e-12), rounded to 6 decimals
at the query layer like every derived float.

Reference parity: generalizes the reference's only vector workload
(fever_multi_agent.py:67-75, exact pgvector scan) to corpus-scale
pairwise similarity, per the dedup mandate.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_PAIR_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("cosine", DoubleType()),
    ]
)

# chunk GEMMs so the sims temporary stays ~this many doubles (32 MB)
_GEMM_CELLS = 4_000_000


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def _topk_pairs(
    ids_a: np.ndarray, ids_b: np.ndarray, sims: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Total-order top-k consistent with ORDER BY cosine DESC, id_a, id_b
    (argpartition alone breaks ties arbitrarily; the global merge then
    needs the same total order to be exact)."""
    if len(sims) > k:
        kth = -np.partition(-sims, k - 1)[k - 1]  # k-th largest value
        mask = sims >= kth  # keep ALL boundary ties, not an arbitrary cut
        ids_a, ids_b, sims = ids_a[mask], ids_b[mask], sims[mask]
    order = np.lexsort((ids_b, ids_a, -sims))[:k]
    return ids_a[order], ids_b[order], sims[order]


def _matrix_topk(
    sims: np.ndarray,
    aids: np.ndarray,
    bids: np.ndarray,
    k: int | None,
    min_s: float | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Select pairs from a dense m×n similarity block WITHOUT
    materializing per-cell index arrays (the O(cells) id expansion was
    2-3× the GEMM cost, profiled at 100k vectors): threshold on the
    k-th-largest value (and/or min_s) first, expand indices only for the
    tiny surviving set. Cells already invalidated by the caller hold
    -inf. Orientation (min, max) is applied after selection."""
    flat = sims.ravel()
    thresh = -np.inf
    if k is not None and flat.size > k:
        thresh = -np.partition(-flat, k - 1)[k - 1]
    if min_s is not None:
        thresh = max(thresh, min_s)
    if thresh > -np.inf:
        sel = np.nonzero(flat >= thresh)[0]
    else:
        sel = np.nonzero(flat > -np.inf)[0]
    s = flat[sel]
    ii, jj = np.divmod(sel, sims.shape[1])
    xa, xb = aids[ii], bids[jj]
    ia, jb = np.minimum(xa, xb), np.maximum(xa, xb)
    if k is not None:
        return _topk_pairs(ia, jb, s, k)
    return ia, jb, s


def _mask_lower_inclusive(sims: np.ndarray, row_offset: int) -> None:
    """For a same-set block whose rows/cols are BOTH sorted by id and
    whose row r is global row row_offset+r: invalidate cols j <= global
    row index (keeps exactly the strict upper triangle = each unordered
    pair once, id_a < id_b). Contiguous slice writes, no index arrays."""
    for r in range(sims.shape[0]):
        sims[r, : row_offset + r + 1] = -np.inf


def _auto_grid_blocks(n: int, parallelism: int) -> int:
    """Auto block count for the grid GEMM: the larger of the size rule
    (~8k rows/block) and the parallelism rule (enough B(B+1)/2
    block-pairs to cover ~1× the cluster's default parallelism), with
    a ≥512-rows-per-block floor and the [4, 64] clamp.

    The ~1× target is measured, not guessed: each input row is
    replicated to B block-pairs before the one shuffle, so B trades
    task granularity against shuffle volume. The r13 sweep on this
    corpus (SCALE_EXPERIMENTS.md "Grid GEMM block-count sweep") put the
    optimum at B=8 for 32 cores (1.69 s) with B=12 — the 2× rule's
    pick — already past it (2.26 s), and the r13 driver confirmed the
    2× rule anti-scaled (32-core wall 2.6× the 8-core wall). ~1×
    pairs-per-core keeps every core busy for exactly one GEMM wave
    while shuffling the fewest replicated bytes that achieve it.

    The 512-row floor is likewise measured: blocks under ~512 rows make
    GEMM tasks too small to amortize scheduling + Arrow transfer (the
    2k-vector sf0.1 corpus at 32 cores ran B=4 ~20% faster than the
    floor-256 pick B=8 while shuffling half the replicated rows)."""
    import math

    size_b = (n + 8191) // 8192
    # exact smallest B with B(B+1)/2 >= parallelism (one conditional
    # bump: floor(sqrt(2p)) never lands more than 1 below nor above
    # the minimum), held to the rows-per-block floor
    par_b = max(1, math.isqrt(2 * parallelism))
    if par_b * (par_b + 1) // 2 < parallelism:
        par_b += 1
    par_b = min(par_b, (n + 511) // 512)
    return min(64, max(4, size_b, par_b))


def cosine_topk_pairs_grid(
    emb: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Global top-k most-similar pairs (id_a < id_b) by cosine — EXACT,
    fully distributed, zero driver-side data movement.

    Plan: block b = id mod B (map) → explode each row to its B
    block-pair groups (map) → one shuffle on (g1, g2) →
    applyInPandas GEMM per group emitting local top-k → global
    TakeOrdered over ≤ B(B+1)/2 · k rows.

    Sizing: each task holds two blocks ≈ 2·(N/B)·d·8 bytes.
    ``n_blocks=None`` (default) AUTO-SIZES B from BOTH the corpus
    count (~8k rows per block) and the cluster parallelism (enough
    block-pairs to cover ~2× defaultParallelism — the r13 sweep
    measured B=4 on 20k vectors leaving 22 of 32 cores idle at 1.9×
    the B=8 wall; same failure mode the r9 sf10 run caught at 200k
    vectors), clamped to [4, 64] with a ≥256-rows-per-block floor so
    tiny corpora don't shatter into empty GEMMs. The quadratic TOTAL
    work is the price of exactness and does not change with B — the
    global top-k is B-invariant (oracle-checked), B only sets task
    granularity; the 64 cap bounds the B·N shuffle (N=100M, d=64 →
    B=64 ≈ 1.6 GB/task). For near-dup mining at the largest scales
    use ``cosine_pairs_bucketed`` instead.

    The auto-sizing count is a REAL Spark job on a filtered/joined/
    derived input (the common operator argument) — pass ``n_rows`` (a
    caller-known row count, exactness not required) to skip it, or
    cache the input when calling in a loop.
    """
    if n_blocks is None:
        n = int(n_rows) if n_rows is not None else emb.count()
        try:
            par = emb.sparkSession.sparkContext.defaultParallelism
        except Exception:
            par = 8
        n_blocks = _auto_grid_blocks(n, par)
    B = int(n_blocks)
    blocked = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.col(id_col), F.lit(B)).cast("int").alias("blk"),
    )
    groups = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("g1"),
                F.greatest(F.col("blk"), F.lit(j)).alias("g2"),
            )
            for j in range(B)
        ]
    )
    routed = blocked.select(
        "id", "vec", "blk", F.explode(groups).alias("g")
    ).select("id", "vec", "blk", "g.g1", "g.g2")

    def _grid_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        g1, g2 = int(key[0]), int(key[1])
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy(dtype=np.int64)[order]
        mat = _normalize(
            np.stack(pdf["vec"].to_numpy())[order].astype(np.float64)
        )
        blk = pdf["blk"].to_numpy()[order]
        same = g1 == g2
        if same:
            a_ids, a_mat = ids, mat
            b_ids, b_mat = ids, mat
        else:
            am, bm_ = blk == g1, blk == g2
            a_ids, a_mat = ids[am], mat[am]
            b_ids, b_mat = ids[bm_], mat[bm_]
        if len(a_ids) == 0 or len(b_ids) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        step = max(1, _GEMM_CELLS // max(len(b_ids), 1))
        acc_a, acc_b, acc_s = [], [], []
        for lo in range(0, len(a_ids), step):
            sims = a_mat[lo : lo + step] @ b_mat.T
            if same:
                # ids sorted both axes: strict upper triangle = each
                # unordered pair exactly once (id_a < id_b)
                _mask_lower_inclusive(sims, lo)
            # cross blocks are disjoint: every cell valid exactly once
            ia, jb, s = _matrix_topk(sims, a_ids[lo : lo + step], b_ids, k)
            acc_a.append(ia)
            acc_b.append(jb)
            acc_s.append(s)
        ia, jb, s = _topk_pairs(
            np.concatenate(acc_a), np.concatenate(acc_b), np.concatenate(acc_s), k
        )
        return pd.DataFrame({"id_a": ia, "id_b": jb, "cosine": s})

    local = routed.groupBy("g1", "g2").applyInPandas(
        _grid_kernel, schema=_PAIR_SCHEMA
    )
    return local.orderBy(
        F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(k)


def auto_hyperplanes(
    n_rows: int,
    dim: int,
    target_bucket_rows: int = 100,
    seed: int = 42,
) -> np.ndarray:
    """Rule-sized sign-LSH hyperplanes: ``n_planes ≈ log2(N / target
    bucket rows)``, clamped to [4, 24] — the sizing rule
    SCALE_EXPERIMENTS measured at 4× (sf10, 200k vectors: 4 fixed
    planes → 25.2 s vs the rule's 11 planes → 6.2 s), now the operator
    default instead of documentation. Per-bucket GEMM work is
    quadratic in occupancy, so bucket count must GROW with the corpus;
    a fixed plane count silently degrades to near-all-pairs as N
    scales. 24 planes caps the id at 16M buckets (fits the long
    bucket id with headroom; beyond that occupancy ~6 rows at 1.6B
    vectors — plenty)."""
    import math

    if dim <= 0 or n_rows < 0:
        raise ValueError(
            f"auto_hyperplanes needs a positive dim and row count, got "
            f"dim={dim}, n_rows={n_rows}"
        )
    from vector_db_setup_spark.operators.ann import random_hyperplanes

    n_planes = (
        min(24, max(4, math.ceil(math.log2(n_rows / target_bucket_rows))))
        if n_rows > target_bucket_rows
        else 4
    )
    return random_hyperplanes(dim, n_planes, seed=seed)


def _corpus_shape(
    emb: DataFrame, vec_col: str, n_rows: int | None
) -> tuple[int, int]:
    """(row count, vector dim) in ONE aggregate job. ``n_rows`` (a
    caller hint) skips the count but not the dim probe; on a derived/
    filtered frame both cost a real Spark job — cache the input or
    pass the hint when calling in a loop."""
    agg = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(vec_col)).alias("d"),
    ).first()
    n = int(n_rows) if n_rows is not None else int(agg["n"])
    d = int(agg["d"]) if agg["d"] is not None else 0
    return n, d


def cosine_pairs_bucketed(
    emb: DataFrame,
    planes: np.ndarray | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float | None = None,
    topk_per_bucket: int | None = None,
    max_bucket_rows: int | None = None,
    n_rows: int | None = None,
    seed: int = 42,
    target_bucket_rows: int = 100,
) -> DataFrame:
    """Near-duplicate candidate pairs via sign-bit LSH bucketing + exact
    per-bucket GEMM — the 100 TB near-dup path.

    The bucket assignment (operators/ann.lsh_bucket) is a native codegen
    map stage; the only shuffle keys on bucket_id; the pairwise work is
    confined to each bucket (cost follows occupancy, never N²). Each
    vector lands in exactly one bucket, so no pair is emitted twice.
    Recall < 1 by design: only same-bucket pairs are scored.

    ``planes=None`` (default) AUTO-SIZES the plane count from the
    corpus (`auto_hyperplanes`: n_planes ≈ log2(N / target bucket
    rows)) so occupancy — and with it the quadratic per-bucket GEMM —
    stays ~constant as the corpus grows, the same fix
    ``cosine_topk_pairs_grid`` got for its block grid. Costs one
    count+dim aggregate job on the input; pass ``n_rows`` to skip the
    count, or explicit ``planes`` to pin the geometry (a benchmark
    whose oracle embeds literal hyperplanes must)."""
    from vector_db_setup_spark.operators.ann import lsh_bucket

    if planes is None:
        n, d = _corpus_shape(emb, vec_col, n_rows)
        planes = auto_hyperplanes(
            n, d, target_bucket_rows=target_bucket_rows, seed=seed
        )
    return cosine_pairs_by_column(
        lsh_bucket(emb, planes, vec_col=vec_col),
        bucket_col="bucket_id",
        vec_col=vec_col,
        id_col=id_col,
        min_cosine=min_cosine,
        topk_per_bucket=topk_per_bucket,
        max_bucket_rows=max_bucket_rows,
    )


def cosine_pairs_multiband(
    emb: DataFrame,
    plane_sets=None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float | None = None,
    topk_per_bucket: int | None = None,
    max_bucket_rows: int | None = None,
    n_bands: int = 4,
    n_rows: int | None = None,
    seed: int = 42,
    target_bucket_rows: int = 100,
) -> DataFrame:
    """OR-amplified sign-LSH near-dup pairs: ``len(plane_sets)``
    INDEPENDENT bucketings, a pair is a candidate if it collides in ANY
    band — the cosine-family analogue of MinHash banding (and of
    MLlib's ``numHashTables``), lifting single-probe bucketing's recall
    ceiling from p to 1−(1−p)^bands. Measured at 50k docs
    (SCALE_EXPERIMENTS.md "LSH recall at sf1"): one 8-plane bucketing
    catches ~65% of cos≥0.95 pairs; 4 bands lift that to ~98% for 4×
    the GEMM work.

    Scale shape: every band's bucket id is computed in ONE scan (pure
    codegen projection), then rows explode to (band, bucket) keys — a
    single shuffle carrying bands× rows, per-bucket exact GEMM, and a
    pair-key groupBy to dedup cross-band re-finds. No extra corpus
    scans per band, no driver involvement, cost ∝ bands × bucket
    occupancy.

    ``plane_sets=None`` (default) AUTO-SIZES ``n_bands`` independent
    bucketings from the corpus count (`auto_hyperplanes` per band,
    seeds ``seed..seed+n_bands-1``): the per-band plane count tracks
    log2(N / target bucket rows), the occupancy knob SCALE_EXPERIMENTS
    measured at 4× when left fixed (4 planes → 25.2 s vs rule-sized
    11 → 6.2 s at sf10). Pass explicit ``plane_sets`` to pin geometry
    (the benchmark query does — its DuckDB oracle embeds the literal
    hyperplanes). One count+dim job when auto-sizing; ``n_rows`` skips
    the count.
    """
    from vector_db_setup_spark.operators.ann import lsh_bucket_expr

    if plane_sets is None:
        n, d = _corpus_shape(emb, vec_col, n_rows)
        plane_sets = [
            auto_hyperplanes(
                n, d, target_bucket_rows=target_bucket_rows,
                seed=seed + i,
            )
            for i in range(n_bands)
        ]

    bands = [
        F.struct(
            F.lit(i).alias("band"),
            lsh_bucket_expr(planes, vec_col).alias("bucket"),
        )
        for i, planes in enumerate(plane_sets)
    ]
    exploded = emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(F.array(*bands)).alias("bb"),
    ).select(
        id_col,
        vec_col,
        F.concat_ws(":", F.col("bb.band"), F.col("bb.bucket")).alias(
            "band_bucket"
        ),
    )
    pairs = cosine_pairs_by_column(
        exploded,
        bucket_col="band_bucket",
        vec_col=vec_col,
        id_col=id_col,
        min_cosine=min_cosine,
        topk_per_bucket=topk_per_bucket,
        max_bucket_rows=max_bucket_rows,
    )
    # a pair colliding in several bands is re-found with an identical
    # cosine (same float ops on the same vectors); max() is the robust
    # one-shuffle dedup
    return pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def cosine_pairs_ivf(
    emb: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float | None = None,
    topk_per_bucket: int | None = None,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """IVF composition of the same per-bucket GEMM: nearest-centroid
    assignment (operators/ann.ivf_assign, native argmin map stage) →
    pairwise cosine within each cluster. Versus sign-bit LSH buckets,
    IVF clusters follow the DATA distribution (KMeans), so dense regions
    split into balanced cells instead of overflowing one hash bucket —
    the better choice when the corpus is clustered; LSH needs no
    training pass. Both compose with the identical kernel."""
    from vector_db_setup_spark.operators.ann import ivf_assign_auto

    return cosine_pairs_by_column(
        ivf_assign_auto(emb, centroids, vec_col=vec_col),
        bucket_col="cluster_id",
        vec_col=vec_col,
        id_col=id_col,
        min_cosine=min_cosine,
        topk_per_bucket=topk_per_bucket,
        max_bucket_rows=max_bucket_rows,
    )


def cosine_pairs_by_column(
    emb: DataFrame,
    bucket_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float | None = None,
    topk_per_bucket: int | None = None,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Shared engine for bucketed pairwise cosine: groupBy(bucket_col)
    → applyInPandas GEMM within each group. Any single-assignment
    bucketing column works (LSH bits, IVF cluster, category key).

    ``max_bucket_rows`` is the hot-bucket guard, same class as the
    MinHash/SimHash ``max_band_df`` caps: a bucket holding m vectors
    costs an m² GEMM inside ONE task (memory is bounded by block
    sizing, wall-clock is not), so at scale either set the cap or
    feed exact-duplicate representatives. Buckets over the cap emit
    no pairs — their occupants are near-exact-duplicate
    concentrations whose route is the exact-dedup/rep-edge path, not
    the pairwise join. None = exact (every bucket scored)."""
    bucketed = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), bucket_col
    )
    if max_bucket_rows is not None:
        w_cnt = F.count(F.lit(1)).over(Window.partitionBy(bucket_col))
        bucketed = (
            bucketed.withColumn("__occ", w_cnt)
            .filter(F.col("__occ") <= max_bucket_rows)
            .drop("__occ")
        )

    def _bucket_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        mat = _normalize(np.stack(pdf["vec"].to_numpy()).astype(np.float64))
        order = np.argsort(ids)
        ids, mat = ids[order], mat[order]
        acc_a, acc_b, acc_s = [], [], []
        step = max(1, _GEMM_CELLS // len(ids))
        for lo in range(0, len(ids), step):
            sims = mat[lo : lo + step] @ mat.T
            _mask_lower_inclusive(sims, lo)
            ia, jb, s = _matrix_topk(
                sims,
                ids[lo : lo + step],
                ids,
                topk_per_bucket,
                min_s=min_cosine,
            )
            acc_a.append(ia)
            acc_b.append(jb)
            acc_s.append(s)
        ia = np.concatenate(acc_a)
        jb = np.concatenate(acc_b)
        s = np.concatenate(acc_s)
        if topk_per_bucket is not None:
            ia, jb, s = _topk_pairs(ia, jb, s, topk_per_bucket)
        return pd.DataFrame({"id_a": ia, "id_b": jb, "cosine": s})

    return bucketed.groupBy(bucket_col).applyInPandas(
        _bucket_kernel, schema=_PAIR_SCHEMA
    )


class CorpusTooLargeError(RuntimeError):
    """A driver-side collect was about to exceed its declared budget."""


# the ONE size-guard primitive (defined in operators/graph, imported
# here rather than re-pasted: the tripwire test and any future fix —
# cap<=0 handling, a cheaper probe — must cover every copy)
from vector_db_setup_spark.operators.graph import _count_capped  # noqa: E402


def cosine_topk_pairs_blocked(
    emb: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """Global top-k pairs via a single broadcast of the normalized corpus
    matrix — ONLY for corpora that provably fit on the driver (guarded;
    raises ``CorpusTooLargeError`` past ``max_broadcast_rows``).
    Use ``cosine_topk_pairs_grid`` (exact) or ``cosine_pairs_bucketed``
    (ANN) beyond that.
    """
    spark = emb.sparkSession
    n = _count_capped(emb, max_broadcast_rows)
    if n > max_broadcast_rows:
        raise CorpusTooLargeError(
            f"corpus exceeds max_broadcast_rows={max_broadcast_rows}; "
            "use cosine_topk_pairs_grid / cosine_pairs_bucketed"
        )
    rows = emb.select(id_col, vec_col).collect()
    if not rows:  # empty corpus -> empty pair set, not an AxisError
        return spark.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    nmat = _normalize(np.array([r[1] for r in rows], dtype=np.float64))
    srt = np.argsort(ids)  # id-sorted so "j > i" = "col index > global row"
    ids, nmat = ids[srt], nmat[srt]
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(nmat)

    def _chunk_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids = b_ids.value
        all_mat = b_mat.value
        order = {v: i for i, v in enumerate(all_ids)}
        blk = max(1, _GEMM_CELLS // max(len(all_ids), 1))
        for pdf in batches:
            idx = pdf[id_col].map(order).to_numpy()
            s_acc, ia_acc, jb_acc = [], [], []
            for lo in range(0, len(idx), blk):
                sub = idx[lo : lo + blk]
                sims = all_mat[sub] @ all_mat.T  # blk×N GEMM
                for r, gi in enumerate(sub):
                    sims[r, : gi + 1] = -np.inf  # keep strictly-larger ids
                ia, jb, s = _matrix_topk(sims, all_ids[sub], all_ids, k)
                s_acc.append(s); ia_acc.append(ia); jb_acc.append(jb)
            s = np.concatenate(s_acc) if s_acc else np.array([])
            ia = np.concatenate(ia_acc) if ia_acc else np.array([], dtype=np.int64)
            jb = np.concatenate(jb_acc) if jb_acc else np.array([], dtype=np.int64)
            ia, jb, s = _topk_pairs(ia, jb, s, k)
            yield pd.DataFrame({"id_a": ia, "id_b": jb, "cosine": s})

    local = emb.select(id_col).mapInPandas(_chunk_topk, schema=_PAIR_SCHEMA)
    return local.orderBy(
        F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(k)


# the query-side collect cap of the broadcast batch-KNN kernels
# (batch_knn_blocked, ann.ivf_search_batch)
MAX_QUERY_ROWS = 100_000

# a row stays a candidate while its expanded d² is within this relative
# slack of the k-th: the expansion's rounding scales with |x|²+|q|², so
# rows tied at the k-th (duplicate vectors) are never cut by it
_TIE_RTOL = 1e-9


def usable_rows(vecs: np.ndarray, dim: int) -> np.ndarray:
    """Mask of the vectors a GEMM kernel can score: not NULL and
    ``dim`` wide. The others are left out, never np.stack-crash a
    whole job."""
    return np.fromiter(
        (v is not None and len(v) == dim for v in vecs), dtype=bool, count=len(vecs)
    )


def collect_queries(
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    cap: int,
    dim: int | None = None,
) -> tuple[np.ndarray, np.ndarray] | None:
    """The query side of the broadcast batch kernels, in one bounded
    job: at most ``cap`` + 1 rows of (``qid_col``, ``qvec_col``) reach
    the driver. Returns None when there are more than ``cap`` queries;
    otherwise (query ids, float64 query matrix) of the queries whose
    vector is not NULL and ``dim`` wide (by default the most common
    width among them, the smaller one on a tie). The other queries are
    left out."""
    pdf = queries.select(qid_col, qvec_col).limit(cap + 1).toPandas()
    if len(pdf) > cap:
        return None
    vecs = pdf[qvec_col].to_numpy()
    if dim is None:
        widths, counts = np.unique(
            [len(v) for v in vecs if v is not None], return_counts=True
        )
        dim = int(widths[counts.argmax()]) if len(widths) else 0
    ok = usable_rows(vecs, dim)
    qmat = np.stack(vecs[ok]) if ok.any() else np.empty((0, dim))
    return pdf[qid_col].to_numpy()[ok], qmat.astype(np.float64)


def l2_topk_candidates(
    ids: np.ndarray, vecs: np.ndarray, qids: np.ndarray, qmat: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One block of corpus rows' candidates for each query's global
    (distance, id) top-k — the L2 kernel the broadcast batch searches
    share.

    ``vecs`` is an object array of vectors; NULL ones and those whose
    width differs from the queries' are left out. Squared distances
    come from one GEMM (|x|²+|q|²−2x·q) per chunk of queries. Every row
    within ``_TIE_RTOL`` of a query's k-th expanded d² (relative to the
    larger of that d² and the norms it cancels) is kept, so every tie at
    the k-th reaches the caller's (distance, id) rank. The distance of
    each kept row is then computed directly as sqrt(sum((x−q)²)), so
    the rank orders true distances, not the expansion's cancellation
    error. Returns (query ids, ids, distances)."""
    dim = qmat.shape[1]
    ok = usable_rows(vecs, dim)
    if not ok.any() or not len(qids):
        return qids[:0], np.asarray(ids)[:0], np.empty(0)
    mat = np.stack(vecs[ok]).astype(np.float64)
    ids = np.asarray(ids)[ok]
    cn2 = (mat**2).sum(axis=1)
    # bound both the m×chunk d² block and the kept rows' differences
    step = max(1, _GEMM_CELLS // max(len(mat), min(len(mat), k) * dim))
    out_q, out_id, out_d = [], [], []
    for lo in range(0, len(qids), step):
        qm = qmat[lo : lo + step]
        qn2 = (qm**2).sum(axis=1)
        d2 = cn2[:, None] + qn2[None, :] - 2.0 * (mat @ qm.T)
        if len(mat) > k:
            kth = np.partition(d2, k - 1, axis=0)[k - 1]
            slack = _TIE_RTOL * (np.abs(kth) + qn2 + cn2.max())
            r, c = np.nonzero(d2 <= kth + slack)
        else:
            r, c = np.divmod(np.arange(d2.size), d2.shape[1])
        out_q.append(qids[lo + c])
        out_id.append(ids[r])
        out_d.append(np.sqrt(((mat[r] - qm[c]) ** 2).sum(axis=1)))
    return np.concatenate(out_q), np.concatenate(out_id), np.concatenate(out_d)


def rank_topk(
    local: DataFrame, key_col: str, id_col: str, dist_col: str, k: int
) -> DataFrame:
    """Each key's k rows with the smallest (distance, id) — the final
    merge of the candidates ``l2_topk_candidates`` emits per block."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(dist_col).asc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def batch_knn_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = MAX_QUERY_ROWS,
    on_oversize: str = "fallback",
) -> DataFrame:
    """Batch KNN, two-phase: each corpus partition computes distances to
    ALL queries in one GEMM and emits only its local top-k per query
    (``l2_topk_candidates``); a final per-query rank sees just
    partitions x Q x k candidate rows instead of N x Q scored rows.

    This is the crossJoin+window formulation's scale path: the shuffle
    shrinks from the full scored product to the candidate set. The query
    side is collected+broadcast — small by definition of batch KNN — and
    guarded: past ``max_query_rows`` the operator either falls back to
    the pure-DataFrame ``batch_knn_join`` (on_oversize="fallback") or
    raises (on_oversize="error") instead of OOMing the driver. Queries
    with a NULL vector or a width other than the most common one, and
    corpus rows with a NULL vector or a width other than the queries',
    are left out."""
    spark = corpus.sparkSession
    got = collect_queries(queries, query_id_col, query_vec_col, max_query_rows)
    if got is None:
        if on_oversize == "fallback":
            from vector_db_setup_spark.operators.knn import batch_knn_join

            joined = batch_knn_join(
                queries,
                corpus,
                query_vec_col=query_vec_col,
                corpus_vec_col=vec_col,
                query_id_col=query_id_col,
                k=k,
                metric="l2",
                dist_col="dist",
                corpus_id_col=id_col,  # same (dist, id) tie-break as the
                # GEMM path below, so both paths are result-equivalent
            )
            return joined.select(
                F.col(query_id_col).alias("query_id"), id_col, "dist"
            )
        raise CorpusTooLargeError(
            f"query side exceeds max_query_rows={max_query_rows}"
        )
    q_ids, q_mat = got
    spark_schema = (
        f"query_id long, {id_col} long, dist double"
    )
    if not len(q_ids):  # 0 queries -> 0 neighbors, not an executor crash
        return spark.createDataFrame([], spark_schema)
    b_qids = spark.sparkContext.broadcast(q_ids.astype(np.int64))
    b_qmat = spark.sparkContext.broadcast(q_mat)

    def _chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            q, ids, d = l2_topk_candidates(
                pdf[id_col].to_numpy(), pdf[vec_col].to_numpy(),
                b_qids.value, b_qmat.value, k,
            )
            yield pd.DataFrame({"query_id": q, id_col: ids, "dist": d})

    local = corpus.select(id_col, vec_col).mapInPandas(
        _chunk, schema=spark_schema
    )
    return rank_topk(local, "query_id", id_col, "dist", k)


def bipartite_max_cosine_lsh(
    corpus: DataFrame,
    bench: DataFrame,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    bench_id: str = "vec_id",
    n_bands: int = 8,
    band_planes: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate bipartite max-cosine — the SCALE path for semantic
    test-set decontamination when the held-out set is too large to ship
    as literal vectors (queries.benchmark_semantic_overlap documents
    this as its fallback). OR-amplified sign-bucket LSH: a (corpus,
    bench) pair is a candidate iff it shares a sign bucket in ANY of
    ``n_bands`` independent bands of ``band_planes`` hyperplanes; exact
    cosine is computed on candidates ONLY, then max-per-corpus-id.

    Returns (corpus_id, nearest_benchmark_id, max_cosine) for every
    corpus row with >=1 candidate (a row sharing no bucket is absent —
    at decontamination thresholds those are the definitively-clean
    rows). Ties on the 6-dp cosine break to the LOWEST benchmark id,
    the exact form's rule.

    Structural recall guarantee: an EXACT duplicate (or any positive
    scalar multiple) of a benchmark vector has identical sign buckets
    in every band, so true contamination at cosine 1.0 is always a
    candidate — recall loss only affects partial matches, and grows
    toward 1 with n_bands (P[candidate] = 1-(1-s^b)^L for sign
    agreement s).

    Shape at 100 TB: both sides compute every band id in ONE projection
    against literal planes (zero shuffle); the corpus explodes x
    n_bands (linear); the bench side is small enough to BROADCAST, so
    the candidate join never shuffles the corpus; the only exchange is
    the final map-side-combined max aggregate. Candidate volume — the
    real cost — is bounded by bucket occupancy, tuned by band_planes.

    Cites reference scope: fever_multi_agent.py:67-76 retrieves by
    exact pgvector cosine only; this operator is the engine's
    decontamination-scale generalization (SURVEY.md §2 beyond-parity
    additions)."""
    from vector_db_setup_spark.functions.vector import (
        cosine_similarity,
    )
    from vector_db_setup_spark.operators.ann import (
        lsh_bucket_expr,
        random_hyperplanes,
    )

    first = bench.select(vec_col).first()
    if first is None:
        return corpus.sparkSession.createDataFrame(
            [],
            f"{corpus_id} long, nearest_benchmark_id long, "
            "max_cosine double",
        )
    dim = len(first[0])
    bands = [
        random_hyperplanes(dim, band_planes, seed=seed + 1000 * l)
        for l in range(n_bands)
    ]

    def _exploded(df, idc):
        ids = F.array(
            *[lsh_bucket_expr(p, vec_col) for p in bands]
        )
        return df.select(
            F.col(idc).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.posexplode(ids).alias("_band", "_bucket"),
        )

    c = _exploded(corpus.select(corpus_id, vec_col), corpus_id)
    b = _exploded(bench.select(bench_id, vec_col), bench_id).select(
        F.col("_id").alias("_bid"),
        F.col("_v").alias("_bv"),
        "_band",
        "_bucket",
    )
    cand = (
        c.join(F.broadcast(b), ["_band", "_bucket"])
        .select("_id", "_v", "_bid", "_bv")
        .dropDuplicates(["_id", "_bid"])
    )
    cos = F.round(cosine_similarity(F.col("_v"), F.col("_bv")), 6)
    best = cand.groupBy("_id").agg(
        F.max(
            F.struct(cos.alias("cos"), (-F.col("_bid")).alias("nbid"))
        ).alias("best")
    )
    return best.select(
        F.col("_id").alias(corpus_id),
        (-F.col("best.nbid")).cast("long").alias("nearest_benchmark_id"),
        F.col("best.cos").alias("max_cosine"),
    )


def max_cosine_against_literal(
    df: DataFrame,
    bench: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact max-cosine of every ``df`` vector against a BOUNDED list
    of ``(benchmark_id, vector)`` pairs shipped as literals — the
    scoring core of queries.benchmark_semantic_overlap and of the
    commit-log semantic-overlap maintainer. One pure map stage: the
    per-benchmark cosines and the (cos, -bid) argmax all evaluate
    inside a single Project, so the caller's frame is never joined or
    shuffled. Ties on the 6-dp cosine break to the LOWEST benchmark
    id. Returns (id_col, nearest_benchmark_id, max_cosine).

    The benchmark set ships as three one-string literals
    (functions/vector: the n×d vectors, their n norms, their negated
    ids), and one ``transform`` scores every benchmark vector: the
    per-bench ``F.lit``/lambda construction cost ~1300 py4j round trips
    for a 20×64 benchmark (~1.9 s of driver wall per invocation, while
    the Spark jobs themselves took 0.37 s). Non-finite elements, and
    finite ones whose norm overflows to inf, travel through the
    literals like any other value. The corpus-vector norm is projected
    once (``__vnorm``) instead of re-derived for each benchmark
    vector."""
    import json
    import math

    from vector_db_setup_spark.functions.vector import (
        matrix_literal,
        vector_literal,
    )

    sb = sorted(bench)
    vecs = matrix_literal([bv for _, bv in sb])
    norms = vector_literal(
        [math.sqrt(sum(float(x) * float(x) for x in bv)) for _, bv in sb]
    )
    nbids = F.from_json(
        F.lit(json.dumps([-int(bid) for bid, _ in sb])), "array<bigint>"
    )
    vc = F.col(vec_col)
    vnorm = F.sqrt(F.aggregate(
        F.zip_with(vc, vc, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ))

    def _scored(bv, i):
        dot = F.aggregate(
            F.zip_with(vc, bv, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.struct(
            F.round(
                dot / (F.col("__vnorm") * F.element_at(norms, i + 1)), 6
            ).alias("cos"),
            F.element_at(nbids, i + 1).alias("nbid"),
        )

    best = F.array_max(F.transform(vecs, _scored))
    return (
        df.withColumn("__vnorm", vnorm)
        .select(id_col, best.alias("_best"))
        .select(
            id_col,
            (-F.col("_best.nbid")).cast("long").alias(
                "nearest_benchmark_id"
            ),
            F.col("_best.cos").alias("max_cosine"),
        )
    )
