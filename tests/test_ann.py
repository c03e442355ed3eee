"""ANN index builds: determinism and recall against exact KNN (the
reference is exact-only; ANN is the mandated batch-build extension, so
the quality bar is recall vs the exact result, not an oracle)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_SMOKE
from vector_db_setup_spark.operators.ann import (
    ivf_assign,
    ivf_search,
    kmeans_centroids,
    lsh_bucket,
    random_hyperplanes,
)
from vector_db_setup_spark.operators.knn import knn_topk
from vector_db_setup_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").cache()


@pytest.fixture(scope="module")
def centroids(spark, emb):
    return kmeans_centroids(emb, k=8)


def test_ivf_assignment_covers_all(spark, emb, centroids):
    assigned = ivf_assign(emb, centroids)
    assert assigned.count() == emb.count()
    ids = [r[0] for r in assigned.select("cluster_id").distinct().collect()]
    assert all(0 <= i < 8 for i in ids)


def test_ivf_recall_vs_exact(spark, emb, centroids):
    q = emb.filter("vec_id = 7").select("embedding").first()[0]
    exact = {
        r["vec_id"]
        for r in knn_topk(emb, "embedding", q, k=10).select("vec_id").collect()
    }
    assigned = ivf_assign(emb, centroids)
    approx = {
        r["vec_id"]
        for r in ivf_search(assigned, centroids, q, k=10, nprobe=4)
        .select("vec_id")
        .collect()
    }
    # probing half the clusters must recover most of the exact top-10
    assert len(exact & approx) >= 6


def test_lsh_same_bucket_for_identical_vectors(spark, emb):
    planes = random_hyperplanes(64, n_planes=8)
    b = lsh_bucket(emb, planes)
    one = b.filter("vec_id = 3").select("bucket_id").first()[0]
    again = lsh_bucket(emb.filter("vec_id = 3"), planes).first()["bucket_id"]
    assert one == again
    n_buckets = b.select("bucket_id").distinct().count()
    assert 1 < n_buckets <= 256


def test_ivf_partitioned_write_prunes(spark, emb, centroids, tmp_path):
    from vector_db_setup_spark.operators.ann import ivf_write

    path = str(tmp_path / "ivf")
    ivf_write(ivf_assign(emb, centroids), path)
    idx = spark.read.parquet(path)
    one_cluster = idx.filter("cluster_id = 0")
    plan = one_cluster._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (pruned read, not post-filter)
    assert "PartitionFilters: [isnotnull(cluster_id" in plan
    total = sum(
        r["n"] for r in idx.groupBy("cluster_id").count().withColumnRenamed(
            "count", "n"
        ).collect()
    )
    assert total == emb.count()


def test_brp_join_recall_and_precision(spark, emb):
    from vector_db_setup_spark.operators.ann import brp_similarity_join

    threshold = 1.15
    rows = emb.select("vec_id", "embedding").collect()
    E = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    ids = sorted(E)
    exact = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if float(np.linalg.norm(E[a] - E[b])) < threshold
    }
    assert exact, "fixture has no near pairs below the threshold"

    got_rows = brp_similarity_join(
        emb, threshold=threshold, bucket_length=4.0, num_hash_tables=5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in got_rows}
    # precision is exact by construction (true L2 re-computed per pair)
    assert got <= exact
    # OR-amplified buckets must recover nearly all true pairs
    assert len(got & exact) / len(exact) >= 0.9


def test_ivf_search_batch_exact_when_probing_all(spark, emb, centroids):
    """With nprobe = #clusters the batch IVF search IS exact: it must
    reproduce batch_knn_join's (query, neighbor, distance) rows."""
    from pyspark.sql import functions as F

    from vector_db_setup_spark.operators.ann import ivf_search_batch
    from vector_db_setup_spark.operators.knn import batch_knn_join

    queries = (
        emb.filter("vec_id < 5")
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    assigned = ivf_assign(emb, centroids)
    got = {
        (r["query_id"], r["vec_id"], round(r["distance"], 6))
        for r in ivf_search_batch(
            queries, assigned, centroids, k=3, nprobe=len(centroids)
        ).collect()
    }
    want = {
        (r["query_id"], r["vec_id"], round(r["distance"], 6))
        for r in batch_knn_join(queries, emb, k=3).collect()
    }
    assert got == want


def test_ivf_search_batch_recall_at_nprobe(spark, emb, centroids):
    """Partial probing trades recall for |Q|*nprobe*cluster work; at
    nprobe=4 of 8 clusters, batch recall@10 must stay high (same bar
    as the single-query ivf_search test)."""
    from pyspark.sql import functions as F

    from vector_db_setup_spark.operators.ann import ivf_search_batch
    from vector_db_setup_spark.operators.knn import batch_knn_join

    queries = (
        emb.filter("vec_id < 20")
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    assigned = ivf_assign(emb, centroids)
    exact = {}
    for r in batch_knn_join(queries, emb, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = {}
    for r in ivf_search_batch(
        queries, assigned, centroids, k=10, nprobe=4
    ).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.6, sum(recalls) / len(recalls)


def _plan_text(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.analyzed().toString() + qe.executedPlan().toString()


def _has_vector_literal(plan: str) -> bool:
    """A run of eight or more float literals: how a centroid array
    literal prints in a plan."""
    import re

    return re.search(r"(-?\d+\.\d+(E-?\d+)?D?,\s*){8}", plan) is not None


def _numpy_topk(rows, q, k):
    """(id, distance) of the k nearest rows by (distance, id)."""
    ids = np.array([i for i, _ in rows])
    mat = np.array([v for _, v in rows], dtype=np.float64)
    d = np.sqrt(((mat - np.asarray(q, dtype=np.float64)) ** 2).sum(axis=1))
    order = np.lexsort((ids, d))[:k]
    return [(int(ids[i]), float(d[i])) for i in order]


def test_ivf_search_batch_full_probe_equals_blocked_with_ties(spark):
    """At nprobe = #clusters the batch IVF search and the exact GEMM
    batch share one kernel: the same (distance, id) rows, including
    duplicate vectors tied at the k-th distance and a shell of rows
    whose distances differ only in the last bits (where the GEMM
    expansion's rounding would reorder them). Both equal numpy's
    brute-force top-k."""
    from vector_db_setup_spark.operators.ann import (
        ivf_assign_gemm,
        ivf_search_batch,
    )
    from vector_db_setup_spark.operators.similarity import batch_knn_blocked

    rng = np.random.default_rng(11)
    base = rng.standard_normal(32) + 20.0  # large norms: d² cancels
    rows = [(i, (rng.standard_normal(32) + 20.0).tolist()) for i in range(60)]
    rows += [(100 + i, base.tolist()) for i in range(8)]  # 8 duplicates
    shell = base + 0.25
    rows += [  # 12 rows about 1e-3 from `shell`, unequal in the last bits
        (200 + 2 * j + h, (shell + (1e-3, -1e-3)[h] * np.eye(32)[j]).tolist())
        for j in range(6)
        for h in (0, 1)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = [(0, base.tolist()), (1, shell.tolist()), (2, rows[3][1])]
    queries = spark.createDataFrame(qs, "query_id long, embedding array<double>")
    cents = kmeans_centroids(corpus, k=4, seed=5)
    got = sorted(
        tuple(r)
        for r in ivf_search_batch(
            queries, ivf_assign_gemm(corpus, cents), cents, k=5,
            nprobe=len(cents),
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in batch_knn_blocked(
            queries.withColumnRenamed("embedding", "qvec"), corpus, k=5
        ).collect()
    )
    assert got == want
    for qid, qv in qs:
        mine = sorted(((i, d) for q, i, d in got if q == qid), key=lambda t: (t[1], t[0]))
        exact = _numpy_topk(rows, qv, 5)
        assert [i for i, _ in mine] == [i for i, _ in exact], qid
        assert np.allclose([d for _, d in mine], [d for _, d in exact], rtol=1e-12, atol=0)
    # the tied duplicates resolve to the 5 smallest ids
    assert [i for q, i, _ in got if q == 0] == [100, 101, 102, 103, 104]


def test_ivf_search_batch_partial_probe_equals_single_query(spark, emb, centroids):
    """Below a full probe each query's rows are exactly those of the
    single-query ivf_search: the same probe_ids routing, the same
    (distance, id) rank."""
    from pyspark.sql import functions as F

    from vector_db_setup_spark.operators.ann import (
        ivf_assign_gemm,
        ivf_search_batch,
    )

    assigned = ivf_assign_gemm(emb, centroids).cache()
    queries = emb.filter("vec_id < 6").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = {}
    for r in ivf_search_batch(queries, assigned, centroids, k=7, nprobe=2).collect():
        batch.setdefault(r["query_id"], []).append((r["vec_id"], r["distance"]))
    for qrow in queries.collect():
        single = [
            (r["vec_id"], r["distance"])
            for r in ivf_search(
                assigned, centroids, qrow["embedding"], k=7, nprobe=2
            ).collect()
        ]
        mine = sorted(batch[qrow["query_id"]], key=lambda t: (t[1], t[0]))
        assert [i for i, _ in mine] == [i for i, _ in single]
        assert np.allclose([d for _, d in mine], [d for _, d in single], rtol=1e-9)
    assigned.unpersist()


def test_ivf_search_batch_skips_null_and_wrong_width(spark):
    """NULL and wrong-width vectors on either side are left out: no
    crash, and the valid queries get the answers of the clean inputs."""
    from vector_db_setup_spark.operators.ann import ivf_search_batch

    rng = np.random.default_rng(3)
    good = [(i, i % 2, rng.standard_normal(4).tolist()) for i in range(20)]
    bad = [(90, 0, None), (91, 1, [0.0, 0.0]), (92, 0, [0.0] * 5)]
    schema = "vec_id long, cluster_id int, embedding array<double>"
    cents = np.array([[0.0] * 4, [1.0] * 4])
    qs = [(0, [0.1] * 4), (1, [0.9] * 4)]
    qschema = "query_id long, embedding array<double>"
    dirty = ivf_search_batch(
        spark.createDataFrame(qs + [(7, None), (8, [1.0, 2.0])], qschema),
        spark.createDataFrame(good + bad, schema), cents, k=3, nprobe=1,
    ).collect()
    clean = ivf_search_batch(
        spark.createDataFrame(qs, qschema),
        spark.createDataFrame(good, schema), cents, k=3, nprobe=1,
    ).collect()
    assert sorted(map(tuple, dirty)) == sorted(map(tuple, clean))
    assert {r["query_id"] for r in dirty} == {0, 1}


def test_ivf_search_batch_zero_queries_and_query_cap(spark, emb, centroids, monkeypatch):
    """An empty batch returns an empty frame with the schema; a batch
    above the query cap is refused with a hint to split it."""
    from vector_db_setup_spark.operators import ann
    from vector_db_setup_spark.operators.ann import (
        ivf_assign_gemm,
        ivf_search_batch,
    )
    from vector_db_setup_spark.operators.similarity import CorpusTooLargeError

    assigned = ivf_assign_gemm(emb, centroids)
    none = spark.createDataFrame([], "query_id long, embedding array<float>")
    out = ivf_search_batch(none, assigned, centroids, k=3, nprobe=2)
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<query_id:bigint,vec_id:bigint,distance:double>"
    )
    monkeypatch.setattr(ann, "MAX_QUERY_ROWS", 2)
    three = emb.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    with pytest.raises(CorpusTooLargeError, match="split the batch"):
        ivf_search_batch(three, assigned, centroids, k=3, nprobe=2)


def test_kmeans_centroids_ignore_partitioning_order_and_bad_rows(spark, emb):
    """The training sample depends only on the data and the seed: a
    repartition, a row shuffle, or extra NULL and wrong-width rows give
    the same centroids bit for bit."""
    from pyspark.sql import functions as F

    want = kmeans_centroids(emb, k=8, seed=3)
    assert want.shape == (8, 64)
    shuffled = emb.orderBy(F.rand(17))
    dirty = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(9001, None), (9002, [1.0, 2.0])], "vec_id long, embedding array<float>"
        )
    )
    for other in (emb.repartition(7), shuffled, dirty):
        assert np.array_equal(kmeans_centroids(other, k=8, seed=3), want)
    assert not np.array_equal(kmeans_centroids(emb, k=8, seed=4), want)


def test_kmeans_centroids_fewer_distinct_points_than_k(spark):
    """Pinned behaviour (kept from the MLlib trainer): with fewer
    distinct vectors than k, one centroid per distinct vector."""
    rows = [(i, [float(i % 3), 0.0, 1.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(df, k=5, seed=42)
    assert cents.shape == (3, 3)
    assert sorted(map(tuple, cents)) == [
        (0.0, 0.0, 1.0), (1.0, 0.0, 1.0), (2.0, 0.0, 1.0)
    ]


def test_ivf_frames_carry_no_centroid_literal(spark, emb, centroids, tmp_path, monkeypatch):
    """The frames the index build, append and merge land, and the
    batch search's frame, plan no k×d centroid literal (the expression
    form ivf_assign does — the detector's positive control)."""
    from vector_db_setup_spark.operators import ann_index
    from vector_db_setup_spark.operators.ann import (
        ivf_assign_gemm,
        ivf_search_batch,
    )
    from vector_db_setup_spark.sources import snapshot_table

    assert _has_vector_literal(_plan_text(ivf_assign(emb, centroids)))
    plans = {}

    def capture(mod, name):
        real = getattr(mod, name)

        def wrapped(df, *a, **kw):
            plans[name] = _plan_text(df)
            return real(df, *a, **kw)

        monkeypatch.setattr(mod, name, wrapped)

    capture(ann_index, "write_snapshot")
    capture(snapshot_table, "append_snapshot")
    capture(snapshot_table, "merge_snapshot")
    base = str(tmp_path / "idx")
    corpus = emb.select("vec_id", "embedding")
    ann_index.build_ivf_index(corpus.filter("vec_id < 400"), base, k=4)
    ann_index.append_to_ivf_index(corpus.filter("vec_id >= 400"), base)
    ann_index.merge_into_ivf_index(corpus.filter("vec_id < 10"), base)
    assert set(plans) == {"write_snapshot", "append_snapshot", "merge_snapshot"}
    queries = emb.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    plans["ivf_search_batch"] = _plan_text(
        ivf_search_batch(
            queries, ivf_assign_gemm(emb, centroids), centroids, k=3, nprobe=2
        )
    )
    for name, plan in plans.items():
        assert not _has_vector_literal(plan), name
