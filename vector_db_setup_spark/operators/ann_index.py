"""Versioned ANN index: IVF builds landed as snapshot-table commits —
zero-downtime index refresh.

The missing operational piece between `operators/ann.py` (IVF math +
cluster-partitioned layout) and a production retrieval service is the
REFRESH story: embeddings change nightly, the index must rebuild, and
in-flight searches must never see a half-built or half-deleted layout.
The pointer-committed snapshot table already gives exactly that for
data; here the INDEX is the data:

- a build lands the cluster-assigned vectors as a hive-partitioned
  snapshot version (partition pruning on `cluster_id=` works INSIDE
  the pinned version dir), with the trained centroids and build
  parameters stored in the commit marker's ``meta`` — the index
  version is fully self-describing (no side file can drift from the
  data it indexes);
- a search resolves one marker (driver-side small-file read), routes
  the query to its nprobe nearest centroids FROM THAT MARKER, and
  scans only those partitions of that pinned dir — a concurrent
  rebuild landing a new version is invisible to it;
- rollback is `version=` time travel; reclamation is `gc_snapshots`'s
  reader-grace contract.

Citations: ivf math in operators/ann.py (recall-tested,
plan-asserted); commit protocol in sources/snapshot_table.py.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_db_setup_spark.operators.ann import (  # noqa: F401
    ivf_assign_auto,  # not called here; perfbench spans this name
    ivf_assign_gemm,
    kmeans_centroids,
)
from vector_db_setup_spark.sources.snapshot_table import (
    read_snapshot,
    snapshot_info,
    write_snapshot,
)


def build_ivf_index(
    emb: DataFrame,
    base: str,
    k: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    fs=None,
    idempotency_key: str | None = None,
    extra_meta: dict | None = None,
) -> int:
    """Train + assign + land one index version; returns its number.
    ``extra_meta`` merges into the marker meta (maintainer cursors,
    audit fields) without touching the index's own keys.

    Offline batch shape: seeded KMeans on the driver over a bounded
    sample (``kmeans_centroids``; deterministic per data+seed), one
    Arrow GEMM assignment stage with the centroids in the kernel's
    closure (``ivf_assign_gemm``; no centroid literal in the plan), one
    partitioned write, one commit. The centroids travel in the marker
    meta (k×d doubles — KBs), so a search needs no artifact beyond the
    table itself.

    The marker also records ``mean_assign_dist`` — the mean L2
    distance of the build's vectors to their assigned centroid (the
    index's quantization-error baseline). ``append_to_ivf_index`` and
    ``merge_into_ivf_index`` compare each landed batch against it to
    decide when the centroids have drifted enough to recommend a full
    retrain."""
    extra = _checked_extra_meta(extra_meta)
    cents = kmeans_centroids(
        emb.select(F.col(vec_col).alias("embedding")), k=k, seed=seed
    )
    with _assigned(emb, cents, vec_col) as (assigned, mean_d):
        return write_snapshot(
            assigned,
            base,
            note=f"ivf k={k} seed={seed}",
            fs=fs,
            idempotency_key=idempotency_key,
            partition_by=["cluster_id"],
            meta={
                "kind": "ivf",
                "k": int(k),
                "seed": int(seed),
                "vec_col": vec_col,
                "centroids": [
                    [float(x) for x in c] for c in np.asarray(cents)
                ],
                "mean_assign_dist": mean_d,
                **extra,
            },
        )


@contextmanager
def _assigned(emb: DataFrame, cents: np.ndarray, vec_col: str):
    """``emb`` assigned to ``cents`` by the GEMM kernel, persisted for
    the block, and the mean L2 distance of its vectors to their
    assigned centroid (None when no vector was assignable). Persisted
    because the mean's aggregate and the landing both evaluate the
    assignment: without the cache an expensive upstream (the corpus of
    a build, a join or feature stage behind a batch) runs twice."""
    assigned = ivf_assign_gemm(
        emb, cents, vec_col=vec_col, dist_col="_adist"
    ).persist()
    try:
        mean_d = assigned.agg(F.avg("_adist")).first()[0]
        yield (
            assigned.drop("_adist"),
            float(mean_d) if mean_d is not None else None,
        )
    finally:
        assigned.unpersist()


_RESERVED_META = frozenset(
    {
        "kind", "k", "seed", "vec_col", "centroids", "mean_assign_dist",
        "appended_batches", "merged_batches", "last_append_mean_dist",
        "drift_ratio", "rebuild_recommended",
    }
)


def _checked_extra_meta(extra_meta: dict | None) -> dict:
    """extra_meta rides the marker for AUDIT fields (maintainer
    cursors, provenance) — it must never clobber the index's own keys:
    overwriting 'kind' bricks every later search ('not an IVF index
    commit'), overwriting the drift fields or a batch counter corrupts
    the rebuild signal. Refuse loudly instead of spreading last and
    praying."""
    extra = extra_meta or {}
    bad = sorted(set(extra) & _RESERVED_META)
    if bad:
        raise ValueError(
            f"extra_meta must not override the index's own keys {bad} "
            "— pick different names for audit fields"
        )
    return extra


def _resolve_ivf(spark, base: str, version, fs):
    """The one marker resolution of every index entry point: pinned
    version (the head when ``version`` is None) + validated IVF meta +
    centroids array. One driver-side small-file read."""
    from vector_db_setup_spark.sources.snapshot_table import current_version

    v = version if version is not None else current_version(spark, base, fs)
    info = snapshot_info(spark, base, v, fs)
    meta = info.get("meta") or {}
    if meta.get("kind") != "ivf":
        # generic snapshot commits (compact_snapshot, upsert_snapshot)
        # carry no index meta and no cluster partitioning — an index
        # table is maintained by RE-BUILDING (build_ivf_index lands the
        # refreshed index as the next version), never by generic
        # maintenance ops, and a mixed table must fail loudly here
        # rather than scan unpruned with stale centroids
        raise ValueError(
            f"version {v} at {base} is not an IVF index commit "
            f"(marker meta: {sorted(meta) or 'none'}); index tables are "
            "refreshed with build_ivf_index, not generic snapshot ops"
        )
    return v, meta, np.asarray(meta["centroids"], dtype=np.float64)


def search_ivf_index(
    spark: SparkSession,
    base: str,
    query_vec,
    topk: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    version: int | None = None,
    fs=None,
    metric: str = "l2",
) -> DataFrame:
    """Exact KNN over the nprobe nearest clusters of a PINNED index
    version. Reads: one marker file (driver), then only the probed
    `cluster_id=` partitions of that version's dir (partition pruning
    — plan-asserted in tests). nprobe == k degenerates to exact
    search over the full version, which is the value-check the tests
    pin against `knn_topk`.

    ``metric`` routes probes AND final ranking: l2 by squared
    distance, cosine by centroid cosine, dot by centroid inner
    product (the same cluster-MIPS heuristic as ann.ivf_search, whose
    r-review fix established that routing by L2 regardless of metric
    silently searches the wrong clusters; dot recall is softer —
    centroids average away member norms — raise nprobe accordingly).
    The index layout is metric-agnostic (KMeans L2 clustering serves
    all three — the standard IVF arrangement). The search itself is
    ``ann.ivf_search`` over the pinned version: the same probe filter
    and ``knn_topk`` plan as the path-based form."""
    from vector_db_setup_spark.operators.ann import ivf_search

    v, meta, cents = _resolve_ivf(spark, base, version, fs)
    return ivf_search(
        read_snapshot(spark, base, version=v, fs=fs),
        cents,
        query_vec,
        k=topk,
        nprobe=nprobe,
        vec_col=meta["vec_col"],
        metric=metric,
        id_col=id_col,
    )


def search_ivf_index_batch(
    spark: SparkSession,
    base: str,
    queries: DataFrame,
    topk: int = 10,
    nprobe: int = 2,
    qvec_col: str = "embedding",
    qid_col: str = "query_id",
    id_col: str = "vec_id",
    version: int | None = None,
    fs=None,
) -> DataFrame:
    """Batch ANN search against a PINNED index version: the versioned
    twin of ann.ivf_search_batch — the queries are routed on the driver
    by the marker's centroids, and one GEMM stage scores each row of
    the probed ``cluster_id`` partitions of the pinned layout against
    the queries that probe its cluster, then one window top-k per
    query. A concurrent rebuild landing a new version is invisible to
    an in-flight batch (the scan is pinned), which is what makes
    nightly eval sweeps safe to run during index refresh."""
    from vector_db_setup_spark.operators.ann import ivf_search_batch

    v, meta, cents = _resolve_ivf(spark, base, version, fs)
    assigned = read_snapshot(spark, base, version=v, fs=fs)
    return ivf_search_batch(
        queries,
        assigned,
        cents,
        k=topk,
        nprobe=nprobe,
        vec_col=meta["vec_col"],
        qvec_col=qvec_col,
        qid_col=qid_col,
        id_col=id_col,
    )


def append_to_ivf_index(
    new_emb: DataFrame,
    base: str,
    fs=None,
    idempotency_key: str | None = None,
    rebuild_drift_ratio: float = 1.5,
    retries: int = 3,
    extra_meta: dict | None = None,
) -> int:
    """Incrementally maintain the index: assign ONLY the new vectors
    using the HEAD marker's centroids and append them into the same
    cluster-partitioned layout — cost proportional to the BATCH, not
    the corpus. ``build_ivf_index`` retrains KMeans and rewrites every
    vector; a nightly 100 TB refresh cannot afford that, and the
    corpus shape is append-dominated anyway (the reference's FEVER
    chunks accumulate; fever_multi_agent.py:67-75 searches a table
    that only ever grows).

    Returns the new committed version. Searches pinned to an older
    version are untouched (append shares their dirs, immutably);
    a head search sees old + new vectors with identical routing,
    because the centroids — and therefore the probe geometry — are
    EXACTLY the head's (carried verbatim into the new marker).

    DRIFT: appended data can wander away from the trained centroids
    (new topics → vectors far from every center → recall decays even
    at the same nprobe). Each append records in the marker meta:
    ``appended_batches`` (a running count), ``last_append_mean_dist``
    (the batch's mean assignment distance), ``drift_ratio`` (batch
    mean / the ORIGINAL build's ``mean_assign_dist``), and
    ``rebuild_recommended`` (drift_ratio > ``rebuild_drift_ratio``).
    The metric is advisory — the append still commits (the index stays
    EXACT within its probed clusters; drift costs recall-per-nprobe,
    not correctness) — and an operator or scheduler reads it off
    ``snapshot_info(...)["meta"]`` to decide when to pay for a full
    ``build_ivf_index``.

    CONCURRENCY: the assignment is DERIVED from the head marker's
    centroids, so the commit pins ``expected_head`` — if a concurrent
    rebuild landed new centroids mid-append, blindly committing would
    mix two centroid geometries in one version (probes would miss the
    mis-assigned rows). On conflict the batch is RE-ASSIGNED against
    the new head's centroids and retried, at most ``retries`` times
    (``_land_on_head``, the loop ``merge_into_ivf_index`` shares)."""
    from vector_db_setup_spark.sources.snapshot_table import append_snapshot

    def commit(assigned, v, meta, fields):
        return append_snapshot(
            assigned,
            base,
            note=f"ivf append onto v{v}",
            fs=fs,
            idempotency_key=idempotency_key,
            partition_by=["cluster_id"],
            meta={**meta, **fields},
            expected_head=v,
        )

    return _land_on_head(
        "append_to_ivf_index", "appended_batches", new_emb, base, fs,
        rebuild_drift_ratio, retries, extra_meta, commit,
    )


def merge_into_ivf_index(
    changed_emb: DataFrame,
    base: str,
    key_col: str = "vec_id",
    fs=None,
    idempotency_key: str | None = None,
    rebuild_drift_ratio: float = 1.5,
    retries: int = 3,
    extra_meta: dict | None = None,
) -> int:
    """REPLACE (or insert) vectors in the index, O(batch): assign the
    new images with the HEAD marker's centroids and land them as ONE
    ``merge_snapshot`` commit — the commit's sequence-scoped tombstone
    retires each key's old image wherever it lives (whatever cluster
    the previous assignment put it in), the batch dir carries the new
    cluster-partitioned images, and no prior bytes rewrite. This is
    the maintenance shape for a SOURCE MERGE (curation churn rewrites
    a day's embeddings): re-assigning the changed vectors must not
    force an O(corpus) index rebuild, and probes stay exact because a
    probed cluster either anti-joins the stale image away or never
    held it.

    Lands through the same head-pinned loop as ``append_to_ivf_index``
    (``_land_on_head``): the same drift bookkeeping
    (``last_append_mean_dist`` / ``drift_ratio`` /
    ``rebuild_recommended`` vs the original build's
    ``mean_assign_dist``), a running ``merged_batches`` count, and the
    same re-assign-on-conflict retries — the assignment derives from
    the head's centroids, so the commit pins ``expected_head`` and
    recomputes against new centroids if a rebuild lands mid-merge.
    ``extra_meta`` merges into the carried-forward marker meta
    (maintainer cursors).

    Raises ``TombstonedKeyError`` (propagated from merge_snapshot)
    when a batch key sits under an UNSCOPED tombstone from an earlier
    index delete — ``compact_ivf_index`` clears the stack; the
    commit-log maintainer self-heals exactly that way."""
    from vector_db_setup_spark.sources.snapshot_table import merge_snapshot

    def commit(assigned, v, meta, fields):
        return merge_snapshot(
            assigned,
            base,
            key_col=key_col,
            note=f"ivf merge onto v{v}",
            fs=fs,
            idempotency_key=idempotency_key,
            partition_by=["cluster_id"],
            meta_update=fields,
            expected_head=v,
        )

    return _land_on_head(
        "merge_into_ivf_index", "merged_batches", changed_emb, base, fs,
        rebuild_drift_ratio, retries, extra_meta, commit,
    )


def _land_on_head(
    op: str,
    counter: str,
    batch: DataFrame,
    base: str,
    fs,
    rebuild_drift_ratio: float,
    retries: int,
    extra_meta: dict | None,
    commit,
) -> int:
    """The one IVF maintenance write: each attempt resolves the head,
    assigns ``batch`` to the head's centroids, builds the marker fields
    (the ``counter`` of landed batches, the drift fields, the checked
    ``extra_meta``) and calls ``commit(assigned, v, head_meta,
    fields)``, which lands with ``expected_head=v``. A conflict means
    the head moved — possibly to NEW centroids — so the next attempt
    re-assigns against the new head."""
    from vector_db_setup_spark.sources.snapshot_table import (
        SnapshotConflictError,
    )

    spark = batch.sparkSession
    extra = _checked_extra_meta(extra_meta)
    last: Exception | None = None
    for _ in range(retries + 1):
        v, meta, cents = _resolve_ivf(spark, base, None, fs)
        base_mean = meta.get("mean_assign_dist")
        with _assigned(batch, cents, meta["vec_col"]) as (assigned, mean_d):
            drift = (
                mean_d / float(base_mean)
                if mean_d is not None and base_mean
                else None
            )
            fields = {
                counter: int(meta.get(counter, 0)) + 1,
                "last_append_mean_dist": mean_d,
                "drift_ratio": drift,
                "rebuild_recommended": bool(
                    drift is not None and drift > rebuild_drift_ratio
                ),
                **extra,
            }
            try:
                return commit(assigned, v, meta, fields)
            except SnapshotConflictError as e:
                last = e  # head moved (possibly NEW centroids): re-assign
    raise RuntimeError(
        f"{op} kept losing to concurrent writers at {base}"
    ) from last


def compact_ivf_index(
    spark: SparkSession,
    base: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fs=None,
    retries: int = 3,
) -> int:
    """Absorb an append/merge chain: rewrite the head's dirs as ONE
    cluster-partitioned dir, carrying the index meta (centroids,
    drift history) verbatim — the data and routing are unchanged, only
    the file layout consolidates.

    Delegates to generic ``compact_snapshot(keep_meta=True)`` after
    the kind guard: the generic path inherits the hive layout
    (``partition_by`` rides the marker), preserves meta under
    ``keep_meta``, stamps the marker op 'compact' (so index
    SUBSCRIBERS consume the step free instead of refusing it as a
    rewrite or paying a full diff), scales the output file count by
    the LIVE-row fraction (a merge-churned index must not compact its
    dead pre-images into the sizing), and carries checks/stats — all
    fixes a hand-rolled twin silently drifts behind."""
    from vector_db_setup_spark.sources.snapshot_table import compact_snapshot

    from vector_db_setup_spark.sources.fs import get_fs

    rfs = fs if fs is not None else get_fs(spark, base)
    _resolve_ivf(spark, base, None, rfs)
    return compact_snapshot(
        spark,
        base,
        target_file_bytes=target_file_bytes,
        fs=rfs,
        retries=retries,
        keep_meta=True,
    )
