"""Distributed cosine kernels: grid == broadcast == brute force, and the
driver-side collects are guarded (raise/fallback, never silently OOM)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from vector_db_setup_spark.operators.similarity import (
    CorpusTooLargeError,
    batch_knn_blocked,
    cosine_pairs_bucketed,
    cosine_topk_pairs_blocked,
    cosine_topk_pairs_grid,
)
from vector_db_setup_spark.sources.registry import load_table


def _pairs(df):
    return [
        (r["id_a"], r["id_b"], round(r["cosine"], 6))
        for r in df.collect()
    ]


def test_grid_equals_broadcast_kernel(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings").filter("vec_id < 200")
    got = _pairs(cosine_topk_pairs_grid(emb, k=15, n_blocks=3))
    want = _pairs(cosine_topk_pairs_blocked(emb, k=15))
    assert got == want


def test_auto_grid_blocks_covers_parallelism():
    """r13 sizing fix, r14-corrected target: the auto block count must
    produce enough block-pairs to cover the cluster ONCE (B=4 on 20k
    vectors left 22 of 32 cores idle, measured 1.9x the B=8 wall; the
    r13 2x target overshot to B=12 and regressed 2.4x — rows are
    replicated to B block-pairs, so excess B multiplies the shuffle),
    while tiny corpora keep >=256-row blocks and huge ones hit the
    shuffle-bounding 64 cap. B never changes results (global top-k is
    B-invariant) — only task granularity."""
    from vector_db_setup_spark.operators.similarity import (
        _auto_grid_blocks,
    )

    b = _auto_grid_blocks(20_000, 32)
    assert b * (b + 1) // 2 >= 32  # parallelism rule (one GEMM wave)
    # the >=512-rows-per-block floor holds small corpora to few blocks
    # (2k vectors: B=4 measured ~20% faster than B=8, half the shuffle)
    assert _auto_grid_blocks(2_000, 32) == 4
    assert _auto_grid_blocks(100, 32) == 4  # tiny corpus: clamp floor
    assert _auto_grid_blocks(100_000_000, 32) == 64  # shuffle cap
    assert _auto_grid_blocks(0, 32) == 4  # empty input stays sane


def test_grid_single_block_degenerate(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings").filter("vec_id < 60")
    got = _pairs(cosine_topk_pairs_grid(emb, k=5, n_blocks=1))
    want = _pairs(cosine_topk_pairs_blocked(emb, k=5))
    assert got == want


def test_grid_handles_ties_exactly(spark):
    # duplicate vectors -> many cosine==1.0 ties; the k-cut must follow
    # the total order (cosine desc, id_a, id_b), not an arbitrary one
    base = [[1.0, 0.0], [1.0, 0.0], [1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]
    rows = [(i, v) for i, v in enumerate(base)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = _pairs(cosine_topk_pairs_grid(emb, k=3, n_blocks=2))
    # ties at 1.0: pairs (0,1),(0,2),(0,3),(1,2),... -> first three by id
    assert got == [(0, 1, 1.0), (0, 2, 1.0), (0, 3, 1.0)]


def test_blocked_kernel_guard_raises(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    with pytest.raises(CorpusTooLargeError):
        cosine_topk_pairs_blocked(emb, k=5, max_broadcast_rows=100)


def test_bucketed_pairs_subset_of_exact(spark):
    from vector_db_setup_spark.operators.ann import random_hyperplanes

    emb = load_table(spark, SF_ORACLE, "embeddings").filter("vec_id < 150")
    planes = random_hyperplanes(dim=64, n_planes=4, seed=42)
    got = cosine_pairs_bucketed(emb, planes).collect()
    assert len(got) > 0
    # every emitted pair's cosine must equal the exact cosine
    emb_map = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    for r in got:
        a, b = emb_map[r["id_a"]], emb_map[r["id_b"]]
        exact = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cosine"] - exact) < 1e-9
    # no pair emitted twice (each vector lives in exactly one bucket)
    keys = [(r["id_a"], r["id_b"]) for r in got]
    assert len(keys) == len(set(keys))


def test_batch_knn_blocked_fallback_on_oversize(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings").filter("vec_id < 100")
    qs = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    normal = batch_knn_blocked(qs, emb, k=3)
    fb = batch_knn_blocked(qs, emb, k=3, max_query_rows=2)
    canon = lambda df: sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 6)) for r in df.collect()
    )
    assert canon(fb) == canon(normal)
    with pytest.raises(CorpusTooLargeError):
        batch_knn_blocked(qs, emb, k=3, max_query_rows=2, on_oversize="error")


def test_batch_knn_blocked_fallback_schema_with_custom_query_id_col(spark):
    """ADVICE r2: with query_id_col != 'query_id' the fallback must still
    emit the primary path's ('query_id', id, dist) schema, same rows."""
    emb = load_table(spark, SF_ORACLE, "embeddings").filter("vec_id < 100")
    qs = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("probe"), F.col("embedding").alias("qvec")
    )
    normal = batch_knn_blocked(qs, emb, k=3, query_id_col="probe")
    fb = batch_knn_blocked(qs, emb, k=3, query_id_col="probe", max_query_rows=2)
    assert fb.columns == normal.columns == ["query_id", "vec_id", "dist"]
    canon = lambda df: sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 6)) for r in df.collect()
    )
    assert canon(fb) == canon(normal)


def test_no_unguarded_full_corpus_collect():
    """Regression tripwire: every .collect() or .toPandas() in
    operators/ must be size-bounded — either behind a _count_capped
    guard (similarity/graph kernels) or with a .limit(k) IN THE SAME
    CALL CHAIN (checked via ast, so an unrelated .limit( nearby can't
    mask an unbounded collect)."""
    import ast
    import pathlib

    ops = (
        pathlib.Path(__file__).resolve().parent.parent
        / "vector_db_setup_spark"
        / "operators"
    )
    for f in ops.glob("*.py"):
        text = f.read_text()
        if "_count_capped" in text:
            continue
        for node in ast.walk(ast.parse(text)):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("collect", "toPandas")
            ):
                continue
            cur, bounded = node.func.value, False
            while True:
                if isinstance(cur, ast.Call) and isinstance(
                    cur.func, ast.Attribute
                ):
                    if cur.func.attr == "limit":
                        bounded = True
                        break
                    cur = cur.func.value
                elif isinstance(cur, ast.Attribute):
                    cur = cur.value
                else:
                    break
            assert bounded, (
                f"{f}:{node.lineno}: .{node.func.attr}() without a "
                "_count_capped guard or a .limit(k) in its own call chain"
            )


def test_ivf_pairs_exact_within_clusters(spark):
    from vector_db_setup_spark.operators.ann import kmeans_centroids
    from vector_db_setup_spark.operators.similarity import cosine_pairs_ivf

    emb = load_table(spark, SF_ORACLE, "embeddings").filter("vec_id < 200")
    cents = kmeans_centroids(emb, k=4, seed=42)
    got = cosine_pairs_ivf(emb, cents).collect()
    assert len(got) > 0
    emb_map = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    for r in got[:200]:
        a, b = emb_map[r["id_a"]], emb_map[r["id_b"]]
        exact = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cosine"] - exact) < 1e-9
    keys = [(r["id_a"], r["id_b"]) for r in got]
    assert len(keys) == len(set(keys))


def test_knn_wide_dim_matches_numpy(spark):
    """knn_topk at the reference's 768-d against numpy brute force: the
    top-k ids in (distance, id) order, distances within 1e-9. Two
    duplicate pairs make the id tie-break visible."""
    import numpy as np

    from vector_db_setup_spark.operators import knn as K

    rng = np.random.default_rng(5)
    dim = 768
    mat = rng.random((200, dim))
    q = rng.random(dim)
    near = np.argsort(np.linalg.norm(mat - q, axis=1))[:2]
    mat[100], mat[101] = mat[near[0]], mat[near[1]]
    rows = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    df = spark.createDataFrame(rows, "id long, v array<double>")

    got = K.knn_topk(df, "v", q.tolist(), k=5, id_col="id").collect()
    dist = np.linalg.norm(mat - q, axis=1)
    want = sorted(range(len(mat)), key=lambda i: (dist[i], i))[:5]
    assert [r["id"] for r in got] == want
    assert {100, 101} & set(want)
    for r in got:
        assert abs(r["distance"] - dist[r["id"]]) < 1e-9


@pytest.mark.parametrize("dim", [8, 768])
def test_knn_keeps_native_plan(spark, dim):
    """The flagship plan stays pure codegen at every width, the
    reference's 768-d included — no Python/Arrow eval node (the
    shuffle-free TakeOrderedAndProject assertion lives in
    test_plans.py)."""
    import numpy as np

    from vector_db_setup_spark.operators import knn as K

    rng = np.random.default_rng(6)
    rows = [(i, [float(x) for x in rng.random(dim)]) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    plan = K.knn_topk(df, "v", [0.0] * dim, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_knn_wide_dim_null_safe(spark):
    """At 768-d a NULL or wrong-width vector yields a null distance,
    ranked after every real neighbor, not an error."""
    import numpy as np

    from vector_db_setup_spark.operators import knn as K

    dim = 768
    rng = np.random.default_rng(9)
    rows = [(1, [float(x) for x in rng.random(dim)]), (2, None),
            (3, [1.0, 2.0])]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = K.knn_topk(df, "v", [0.0] * dim, k=3, id_col="id").collect()
    assert [r["id"] for r in out] == [1, 2, 3]
    got = {r["id"]: r["distance"] for r in out}
    assert got[1] is not None and got[1] > 0
    assert got[2] is None and got[3] is None


def test_cosine_bucket_occupancy_cap_drops_only_hot_bucket(spark):
    """max_bucket_rows (the cosine-family hot-bucket guard, same class
    as the MinHash/SimHash max_band_df caps): a planted bucket of m
    identical vectors is dropped wholesale, while pairs from
    normally-occupied buckets survive untouched."""
    import numpy as np

    from vector_db_setup_spark.operators.ann import random_hyperplanes
    from vector_db_setup_spark.operators.similarity import (
        cosine_pairs_bucketed,
    )

    rng = np.random.default_rng(9)
    dim = 8
    hot = np.ones(dim) / np.sqrt(dim)  # 40 identical vectors, one bucket
    rows = [(i, hot.tolist()) for i in range(40)]
    normal = rng.standard_normal((20, dim))
    normal /= np.linalg.norm(normal, axis=1, keepdims=True)
    rows += [(100 + i, normal[i].tolist()) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = random_hyperplanes(dim, 4, seed=2)

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_bucketed(emb, planes).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_bucketed(
            emb, planes, max_bucket_rows=25
        ).collect()
    }
    hot_pairs = {p for p in uncapped if p[0] < 40 and p[1] < 40}
    assert len(hot_pairs) == 40 * 39 // 2  # the m^2 blowup being guarded
    assert capped.isdisjoint(hot_pairs)
    # ground truth from the actual bucket assignment: the cap must drop
    # EXACTLY the pairs whose bucket holds > 25 vectors (whole-bucket
    # semantics — includes normal vectors co-located with the hot
    # crowd), and nothing from under-cap buckets
    from vector_db_setup_spark.operators.ann import lsh_bucket

    assign = {
        r["vec_id"]: r["bucket_id"] for r in lsh_bucket(emb, planes).collect()
    }
    from collections import Counter

    occ = Counter(assign.values())
    expected_capped = {
        p for p in uncapped if occ[assign[p[0]]] <= 25
    }  # pair's bucket = both members' bucket (same-bucket pairs only)
    assert capped == expected_capped


def test_batch_knn_blocked_keeps_boundary_ties(spark):
    """Duplicate corpus vectors tied at the k-th distance: the blocked
    kernel must keep ALL boundary ties per chunk so the global
    (dist, id) rank picks the smallest ids — result-equal to the
    pure-DataFrame batch_knn_join contract."""
    import numpy as np

    from vector_db_setup_spark.operators.knn import batch_knn_join
    from vector_db_setup_spark.operators.similarity import batch_knn_blocked

    rng = np.random.default_rng(5)
    base = rng.standard_normal(8).tolist()
    # ids 0..9 all share ONE vector (all tied at any distance);
    # ids 10..19 are distinct
    rows = [(i, base) for i in range(10)] + [
        (i, rng.standard_normal(8).tolist()) for i in range(10, 20)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # a NULL and a wrong-width query are left out, not a driver crash
    queries = spark.createDataFrame(
        [(100, rng.standard_normal(8).tolist()), (101, base), (102, None),
         (103, [1.0, 2.0, 3.0])],
        "query_id long, qvec array<double>",
    )
    got = {
        (r["query_id"], r["vec_id"])
        for r in batch_knn_blocked(
            queries, corpus, k=5, query_vec_col="qvec"
        ).collect()
    }
    want = {
        (r["query_id"], r["vec_id"])
        for r in batch_knn_join(
            queries.filter("query_id < 102"),
            corpus,
            query_vec_col="qvec",
            corpus_vec_col="embedding",
            k=5,
            metric="l2",
            corpus_id_col="vec_id",
        ).collect()
    }
    assert got == want
    # the tied block resolves to the 5 SMALLEST ids for the base query
    assert {v for q, v in got if q == 101} == {0, 1, 2, 3, 4}


def test_blocked_kernels_handle_empty_inputs(spark):
    from vector_db_setup_spark.operators.similarity import (
        batch_knn_blocked,
        cosine_topk_pairs_blocked,
    )

    empty_vec = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    empty_q = spark.createDataFrame(
        [], "query_id long, qvec array<double>"
    )
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    assert batch_knn_blocked(
        empty_q, corpus, k=3, query_vec_col="qvec"
    ).count() == 0
    assert cosine_topk_pairs_blocked(empty_vec, k=3).count() == 0


def test_auto_hyperplanes_tracks_corpus_size():
    """VERDICT r9 'What's wrong #2': the plane count is no longer a
    caller-supplied constant — planes=None sizes n_planes ≈
    log2(N / target bucket rows), the rule SCALE_EXPERIMENTS measured
    at 4× when left fixed."""
    from vector_db_setup_spark.operators.similarity import auto_hyperplanes

    assert auto_hyperplanes(50, 8).shape == (4, 8)        # floor
    assert auto_hyperplanes(50_000, 8).shape == (9, 8)    # log2(500)
    assert auto_hyperplanes(200_000, 8).shape == (11, 8)  # the sf10 knob
    assert auto_hyperplanes(2_000_000_000, 8).shape == (24, 8)  # cap
    # deterministic per seed, independent across seeds
    a = auto_hyperplanes(1000, 4, seed=1)
    assert (a == auto_hyperplanes(1000, 4, seed=1)).all()
    assert not (a == auto_hyperplanes(1000, 4, seed=2)).all()
    with pytest.raises(ValueError):
        auto_hyperplanes(100, 0)


def test_bucketed_default_planes_equal_explicit_rule(spark):
    """planes=None must behave exactly like passing the rule-sized
    planes by hand (same seed) — and still emit only exact cosines."""
    from vector_db_setup_spark.operators.similarity import auto_hyperplanes

    emb = load_table(spark, SF_ORACLE, "embeddings").filter("vec_id < 150")
    n, d = emb.count(), 64
    explicit = {
        (r["id_a"], r["id_b"], round(r["cosine"], 9))
        for r in cosine_pairs_bucketed(
            emb, auto_hyperplanes(n, d, seed=42), min_cosine=0.5
        ).collect()
    }
    default = {
        (r["id_a"], r["id_b"], round(r["cosine"], 9))
        for r in cosine_pairs_bucketed(emb, min_cosine=0.5).collect()
    }
    assert default == explicit
    # the n_rows hint changes nothing when it matches reality
    hinted = {
        (r["id_a"], r["id_b"], round(r["cosine"], 9))
        for r in cosine_pairs_bucketed(
            emb, min_cosine=0.5, n_rows=n
        ).collect()
    }
    assert hinted == default


def test_multiband_default_recall_beats_single_bucketing(spark):
    """Default multiband (4 auto-sized bands, band 0 = the single
    default's seed) must find at least every pair the single default
    bucketing finds — OR-amplification only ever adds candidates."""
    from vector_db_setup_spark.operators.similarity import (
        cosine_pairs_multiband,
    )

    # 50 near-duplicate clusters of 4 (tiny deterministic jitter) —
    # guaranteed high-cosine pairs for the recall comparison
    rng = np.random.default_rng(7)
    base = rng.standard_normal((50, 16))
    rows = []
    for i, v in enumerate(base):
        for j in range(4):
            rows.append(
                (
                    i * 4 + j,
                    [float(x) for x in v + 0.01 * rng.standard_normal(16)],
                )
            )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    single = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_bucketed(
            emb, min_cosine=0.9, seed=42
        ).collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_multiband(
            emb, min_cosine=0.9, seed=42
        ).collect()
    }
    assert single, "fixture must produce same-bucket high-cos pairs"
    assert single <= multi


def test_benchmark_semantic_overlap_surfaces_planted_duplicate(
    spark, tmp_path
):
    """Planted witness for the semantic decontamination query: a corpus
    vector that EXACTLY duplicates a benchmark vector must surface at
    rank 1 with cosine 1.0 against that benchmark id; a colinear
    (scaled) copy also scores 1.0 (cosine is scale-invariant — the
    paraphrase analogy); an orthogonal vector scores 0."""
    import vector_db_setup_spark.queries as q
    from vector_db_setup_spark.sources.registry import clear_table_cache

    dim = 8
    rows = []
    # benchmark ids 0..19: unit basis-ish vectors
    for b in range(20):
        v = [0.0] * dim
        v[b % dim] = 1.0
        v[(b + 3) % dim] = float(b) / 40.0
        rows.append((b, v))
    # corpus: 100 duplicates benchmark 7; 101 is benchmark 3 scaled by
    # 5; 102 is orthogonal to everything benchmark-heavy
    rows.append((100, list(rows[7][1])))
    rows.append((101, [5.0 * x for x in rows[3][1]]))
    v102 = [0.0] * dim
    v102[7] = 1.0
    rows.append((102, v102))
    sf_dir = str(tmp_path / "sf")
    import os

    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")
    clear_table_cache(spark)
    out = q.benchmark_semantic_overlap(spark, sf_dir).collect()
    byid = {r["vec_id"]: r for r in out}
    assert out[0]["vec_id"] in (100, 101)  # the two cosine-1.0 rows
    assert byid[100]["nearest_benchmark_id"] == 7
    assert byid[100]["max_cosine"] == 1.0
    assert byid[101]["nearest_benchmark_id"] == 3
    assert byid[101]["max_cosine"] == 1.0
    assert byid[102]["max_cosine"] < 1.0
    clear_table_cache(spark)


def test_length_outliers_by_mad_flags_planted_outlier(spark, tmp_path):
    """Planted witness: one language with tight lengths plus a single
    huge document — the outlier (and only it) must be flagged with the
    expected robust z; a constant-length language (MAD 0) must flag
    nothing instead of dividing by zero."""
    import os

    import vector_db_setup_spark.queries as q
    from vector_db_setup_spark.sources.registry import clear_table_cache

    rows = [(i, "en", n) for i, n in enumerate([100, 102, 98, 101, 99, 1000])]
    rows += [(10 + i, "zz", 50) for i in range(4)]  # constant: MAD 0
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    clear_table_cache(spark)
    out = q.length_outliers_by_mad(spark, sf_dir).collect()
    # en: median 100.5, MAD = median(|x-100.5|) = 1.5 ->
    # outlier z = 899.5/1.5 = 599.666667; the rest are <= 2
    assert [(r["doc_id"], r["lang"]) for r in out] == [(5, "en")]
    assert out[0]["robust_z"] == round(899.5 / 1.5, 6)
    clear_table_cache(spark)


def test_auto_grid_blocks_targets_one_gemm_wave():
    """The parallelism rule sizes B so B(B+1)/2 block-pairs cover ~1x
    defaultParallelism — the r13 sweep's measured optimum (B=8 at 32
    cores; the prior 2x rule picked B=12 and regressed 2.4x / anti-
    scaled in the r13 driver run). Pin the rule's outputs so a future
    'tweak' has to re-justify itself against the sweep."""
    from vector_db_setup_spark.operators.similarity import (
        _auto_grid_blocks,
    )

    assert _auto_grid_blocks(20_000, 32) == 8  # sweep optimum
    assert _auto_grid_blocks(2_000, 32) == 4  # 512-row floor binds
    assert _auto_grid_blocks(2_000, 8) == 4  # same plan at low cores
    assert _auto_grid_blocks(20_000, 8) == 4  # 4*5/2=10 >= 8, clamp floor
    # minimality: one fewer block must NOT cover the parallelism
    # (n small enough that the ~8k-rows size rule stays below)
    b = _auto_grid_blocks(100_000, 512)
    assert b * (b + 1) // 2 >= 512 and (b - 1) * b // 2 < 512
    # row floor: tiny corpora never shatter below ~256 rows/block
    assert _auto_grid_blocks(1_000, 2048) == 4
    # size rule still owns large corpora (~8k rows/block, 64 cap)
    assert _auto_grid_blocks(1_000_000, 32) == 64
