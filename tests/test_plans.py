"""Plan-shape regressions: the scale claims must be visible in the
executed plan, not just in docstrings."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from tests.conftest import SF_ORACLE
from vector_db_setup_spark import queries as q
from vector_db_setup_spark.plans.inspect import (
    has_broadcast_join,
    has_take_ordered,
    n_exchanges,
    scan_pushed_filters,
)
from vector_db_setup_spark.sources.registry import load_table


@pytest.fixture(autouse=True)
def _cold_persist_cache(spark):
    """Plan-shape assertions are written against the RAW build lineage.
    A session-memoized intermediate (queries._PERSIST_CACHE) warmed by
    an earlier test swaps part of the executed plan for an
    InMemoryTableScan, so the same test can pass or fail depending on
    suite order (the r13 driver run failed
    test_duplicate_spans_single_tokenize_and_pruned_scan exactly this
    way). Clear the cache before every plan test so each one inspects
    the deterministic cold plan."""
    q.clear_persist_cache(spark)
    yield


def test_flagship_knn_is_shuffle_free(spark):
    df = q.knn_l2_flagship(spark, SF_ORACLE)
    assert has_take_ordered(df), "top-k must compile to TakeOrderedAndProject"
    assert has_broadcast_join(df), "doc⋈emb must broadcast, not shuffle"
    assert n_exchanges(df) == 0, "no shuffle exchange anywhere in the KNN"


def test_star_join_broadcasts_all_dims(spark):
    import re

    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.regional_revenue(spark, SF_ORACLE)
    assert has_broadcast_join(df)
    # exactly one hash shuffle (the final 2-column agg); the range
    # exchange for the presentation ORDER BY is allowed
    assert len(re.findall(r"Exchange hashpartitioning", executed_plan(df))) == 1


def test_filter_pushdown_reaches_scan(spark):
    li = load_table(spark, SF_ORACLE, "lineitem").filter(
        F.col("l_returnflag") == "A"
    ).select("l_orderkey")
    pushed = scan_pushed_filters(li)
    assert any("l_returnflag" in p for p in pushed), pushed


def test_column_pruning(spark):
    df = load_table(spark, SF_ORACLE, "lineitem").select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_extendedprice" not in plan, "unused columns must not be read"


def test_pricing_summary_partial_agg(spark):
    df = q.pricing_summary(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partial HashAggregate before the exchange (map-side combine)
    first_agg = plan.index("HashAggregate")
    first_ex = plan.index("Exchange")
    assert first_agg < first_ex or plan.count("HashAggregate") >= 2


def test_simhash_banded_plan_has_no_cartesian(spark):
    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.simhash_banded_pairs_q(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_cosine_plan_has_no_cartesian(spark):
    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.embedding_bucketed_pairs(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embed_expr_equals_udf(spark):
    from vector_db_setup_spark.functions.embed import hash_embed_expr, hash_embed_udf

    d = load_table(spark, SF_ORACLE, "documents").filter("doc_id < 20")
    a = d.select("doc_id", hash_embed_expr("text").alias("e")).collect()
    b = d.select("doc_id", hash_embed_udf()("text").alias("e")).collect()
    va = {r["doc_id"]: r["e"] for r in a}
    vb = {r["doc_id"]: r["e"] for r in b}
    assert va.keys() == vb.keys()
    for k in va:
        assert all(abs(x - y) < 1e-12 for x, y in zip(va[k], vb[k]))


def test_join_hints_are_honored(spark):
    """Physical-strategy control: explicit hints must reach the planner
    (at 100 TB you sometimes know better than the statistics — e.g.
    force SHUFFLE_HASH to avoid sorting a huge-but-uniform side)."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    li = load_table(spark, SF_ORACLE, "lineitem")
    o = load_table(spark, SF_ORACLE, "orders")
    hashed = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in executed_plan(hashed)
    merged = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in executed_plan(merged)


def test_cached_plan_reuses_inmemory_scan(spark):
    from vector_db_setup_spark.plans.inspect import executed_plan

    d = load_table(spark, SF_ORACLE, "documents").filter("doc_id < 50").cache()
    try:
        d.count()
        plan = executed_plan(d.groupBy("lang").count())
        assert "InMemoryTableScan" in plan
    finally:
        d.unpersist()


def test_doc_chunking_is_shuffle_free(spark):
    """Chunking is a per-row explode of sequence+slice — any Exchange in
    this plan is a regression."""
    df = q.doc_chunking(spark, SF_ORACLE)
    assert n_exchanges(df) == 0


def test_pii_scrub_is_shuffle_free(spark):
    df = q.doc_pii_scrub(spark, SF_ORACLE)
    assert n_exchanges(df) == 0


def test_pq_adc_is_shuffle_free(spark):
    """PQ encode + ADC is one map stage over the embeddings scan
    (m×ksub codegen distance exprs + m lookups per row) — the whole
    point of the compressed scan at 100 TB is that it never exchanges;
    any Exchange here is a regression."""
    df = q.pq_adc_distances(spark, SF_ORACLE)
    assert n_exchanges(df) == 0


def test_context_packing_single_hash_exchange(spark):
    """The per-source window's hashpartitioning must be REUSED by the
    bin aggregation: exactly one hash exchange in the whole plan."""
    import re

    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.context_packing(spark, SF_ORACLE)
    assert (
        len(re.findall(r"Exchange hashpartitioning", executed_plan(df))) == 1
    )


def test_event_funnel_single_user_partitioning(spark):
    """Three chained conditional-min windows must share ONE user_id hash
    partitioning (plus the final single-row aggregate's exchange)."""
    import re

    from vector_db_setup_spark.plans.inspect import executed_plan

    plan = executed_plan(q.event_funnel(spark, SF_ORACLE))
    hashes = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert len([h for h in hashes if "user_id" in h]) == 1, hashes


def test_bm25_no_python_eval_and_bounded_exchanges(spark):
    """BM25 must stay JVM-side (no Arrow/Python eval node) and keep the
    flattened shape (single data-sized groupBy + tiny stats agg)."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    plan = executed_plan(q.bm25_scores(spark, SF_ORACLE))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert n_exchanges(q.bm25_scores(spark, SF_ORACLE)) <= 5


def test_multiband_cosine_plan_has_no_cartesian(spark):
    """The OR-amplified multiband path must stay an explode + keyed
    groupBy — never a cross product across bands or buckets."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.embedding_multiband_pairs(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_sample_broadcasts_rates(spark):
    """corpus_mixture_sample: the sources-sized rate table must join by
    broadcast (the gate is a map-side filter — no data-sized shuffle
    before the final rollup)."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.corpus_mixture_sample(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_market_share_one_smj_rest_broadcast(spark):
    """Q8 shape: the ONLY non-broadcast join edge is lineitem ⋈ orders
    (both fact-sized); part/supplier/customer/nation/region must all
    arrive by broadcast. A second sort-merge join means a dim lost its
    broadcast and a 100 TB run would shuffle it."""
    import re

    from vector_db_setup_spark.plans.inspect import executed_plan

    plan = executed_plan(q.market_share(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)) <= 1, plan
    assert "CartesianProduct" not in plan


def test_supplier_part_counts_anti_before_distinct(spark):
    """Q16 shape: the NOT-IN exclusion must plan as a broadcast anti
    join (excluded rows never enter the count-distinct shuffle)."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    plan = executed_plan(q.supplier_part_counts(spark, SF_ORACLE))
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_important_parts_single_aggregate_subtree(spark):
    """Q11 shape: the grand total is an empty-frame window over the
    per-part aggregate, so the join+agg subtree must execute ONCE —
    exactly 3 parquet scans (lineitem, supplier, nation), one Window,
    no join-back and no cartesian. The naive agg-then-rejoin form ran
    6 scans."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    plan = executed_plan(q.important_parts(spark, SF_ORACLE))
    assert plan.count("Scan parquet") == 3, plan
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan


def test_returned_item_customers_prunes_both_facts(spark):
    """Q10 shape: both fact scans must push their predicates into the
    parquet reader (quarter on orders, returnflag on lineitem)."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    plan = executed_plan(q.returned_item_customers(spark, SF_ORACLE))
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan and "o_orderdate" in plan


def test_shard_manifest_partial_aggregate_before_exchange(spark):
    """The shard manifest's scale contract: the per-shard aggregation
    (count + bit_xor(xxhash64) + sum) must partial-aggregate map-side —
    the checksum is mergeable by construction, so the exchange carries
    n_shards-bounded partials, never rows."""
    from vector_db_setup_spark.plans.inspect import executed_plan, n_exchanges
    from vector_db_setup_spark.sources.registry import load_table
    from vector_db_setup_spark.sources.shards import (
        _shard_manifest,
        assign_shard,
    )

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    m = _shard_manifest(assign_shard(docs, 8), "text")
    plan = executed_plan(m)
    # partial then final HashAggregate around exactly one shuffle
    import re

    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan
    assert n_exchanges(m) == 1, plan
    first_agg = plan.index("HashAggregate")
    assert "partial_" in plan[first_agg : plan.index("Exchange", first_agg)] or \
        plan.count("partial_") >= 1, plan


def test_bpe_pair_counts_partial_aggregate(spark):
    """BPE's per-round scale contract: the adjacent-pair count must
    partial-aggregate map-side so the exchange carries distinct pairs
    (vocab-bounded), not word rows, and the pair construction stays
    JVM-side (no PythonUDF/ArrowEval in the plan)."""
    from vector_db_setup_spark.operators.bpe import (
        _initial_symbols,
        _pair_counts,
        word_freq_table,
    )
    from vector_db_setup_spark.plans.inspect import executed_plan, n_exchanges
    from vector_db_setup_spark.sources.registry import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    pc = _pair_counts(_initial_symbols(word_freq_table(docs)))
    plan = executed_plan(pc)
    assert "partial" in plan.lower(), plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    # word-freq groupBy + pair groupBy = exactly two keyed exchanges
    assert n_exchanges(pc) == 2, plan


def test_hashed_bow_partial_aggregate_before_exchange(spark):
    """Feature hashing's scale claim: the groupBy(doc_id, bucket)
    partial-aggregates map-side, so the exchange carries at most
    docs x 64 combined rows, not the raw token stream."""
    import re

    from vector_db_setup_spark.plans.inspect import executed_plan

    plan = executed_plan(q.hashed_bow(spark, SF_ORACLE))
    # tree prints top-down (final agg, exchange, partial agg, scan):
    # the partial_count node must exist BELOW the exchange
    first_ex = plan.index("Exchange")
    assert "partial_count" in plan[first_ex:], plan


def test_merge_view_anti_join_broadcasts(spark):
    """corpus_merge_view (driver row since r10) is the MERGE read
    shape: the update batch is the small side by construction, so the
    corpus-side anti-join must broadcast — a shuffled anti at 100 TB
    would move the corpus to satisfy a nightly batch."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.corpus_merge_view(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_udtf_lateral_join_prunes_columns(spark):
    """doc_shingles_udtf (driver row since r10): the lateral UDTF scan
    must read only the columns the shingler consumes, not the whole
    documents row."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.doc_shingles_udtf(spark, SF_ORACLE)
    plan = executed_plan(df)
    scans = [
        ln for ln in plan.splitlines() if "FileScan parquet" in ln
    ]
    assert scans, plan
    assert all("n_tokens" not in ln for ln in scans), (
        "UDTF input scan reads columns the shingler never consumes"
    )


def test_duplicate_spans_single_tokenize_and_pruned_scan(spark):
    """duplicate_spans (driver row since r10): the corpus is tokenized
    and md5'd exactly ONCE — the per-gram stats (count, first occ) come
    from a window over the single shingle explode, not a groupBy whose
    join-back re-runs the Generate (VERDICT r10 missing #2: the r10
    plan ran the 8-gram explode twice); one corpus-sized shuffle on
    gram; the scan reads only doc_id + text; no cartesian anywhere."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.duplicate_spans_q(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    gens = [ln for ln in plan.splitlines() if "Generate " in ln]
    assert len(gens) == 1, plan
    # the gram stats window partitions BY GRAM (bounded groups, local
    # sort only) — never an empty/global partition spec
    assert "windowspecdefinition(gram" in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and all(
        "n_chars" not in ln and "lang" not in ln for ln in scans
    ), plan


def test_corpus_span_clean_no_cartesian_pruned_scan(spark):
    """corpus_span_clean (driver row since r10): stripping must NOT
    explode the corpus — the token arrays stay intact and covered
    positions drop inside a higher-order filter, so the strip side of
    the plan carries no Generate(posexplode) beyond detection's shingle
    explode and no anti-join shuffle; doc_id+text-only scans."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.corpus_span_clean(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftAnti" not in plan  # the strip rewrite removed it
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and all(
        "n_chars" not in ln and "lang" not in ln for ln in scans
    ), plan


def test_semdedup_grouped_gemm_no_cartesian(spark):
    """semdedup_doc_keepers (driver row since r10): the pairwise stage
    is the cluster-grouped Pandas GEMM (FlatMapGroupsInPandas), never a
    corpus self-join; assignment is a pure map stage (no shuffle before
    the grouping exchange on cluster_id)."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.semdedup_doc_keepers(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_lm_perplexity_broadcasts_lm_and_has_no_global_window(spark):
    """lm_perplexity_buckets (driver row since r10 third rotation):
    the LM tables broadcast into the scoring join (never a shuffled
    corpus-side join), no cartesian beyond the 1-row cut/V cross
    joins, and the bucket assignment is a broadcast threshold compare
    — NO WindowExec anywhere and no Exchange SinglePartition over the
    per-doc rows (the r10 global ntile(3), VERDICT r10 What's-wrong
    #1, is gone; the only single-partition exchange left feeds the
    1-row quantile aggregate)."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.lm_perplexity_buckets(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    import re as _re

    # word-boundary ntile — "percentile(" contains bare "ntile("
    assert "Window" not in plan
    assert not _re.search(r"(?<![a-zA-Z])ntile\(", plan)
    # the reference bigram counts are memoized+persisted: the c12
    # broadcast join AND the c1 derivation both read the cache, so the
    # reference slice's bigram explode runs once (VERDICT r10 #6)
    assert plan.count("InMemoryTableScan") >= 2, plan
    # the global sort the ntile needed is gone entirely
    assert "Sort " not in plan, plan
    # the cut points reduce through a PARTIAL percentile (combinable)
    assert "partial_percentile" in plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and all(
        "n_chars" not in ln and "lang" not in ln for ln in scans
    ), plan


def test_dsir_topk_and_broadcast(spark):
    """dsir_resampled (driver row since r10 fourth rotation): the
    Gumbel top-k is a TakeOrderedAndProject over per-doc weight rows
    (the corpus is never globally sorted), the ≤B-row log-ratio table
    BROADCASTS into the weight join, and the document scans prune to
    (doc_id, text) with the slice predicates pushed."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    df = q.dsir_resampled(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the raw pool's feature relation is memoized+persisted: BOTH
    # consumers (denominator totals, per-doc weights) read the cache,
    # so the raw tokenize runs once per session (VERDICT r10 #6)
    assert plan.count("InMemoryTableScan") >= 2, plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and all(
        "n_chars" not in ln and "lang" not in ln for ln in scans
    ), plan
    assert any("PushedFilters: [IsNotNull(doc_id)" in ln for ln in scans)


def test_session_and_sliding_windows_partial_agg_pruned_scan(spark):
    """events_session_window + events_sliding (driver rows since r11):
    both are groupBy window aggregates — partial (map-side) aggregation
    before the exchange for the sliding form, session merge keyed by
    user (no global sort/single partition), and the events scan prunes
    to the referenced columns (never props/value for these counts)."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    sl = executed_plan(q.events_sliding(spark, SF_ORACLE))
    assert "partial_count" in sl
    assert "SinglePartition" not in sl, sl
    scans = [ln for ln in sl.splitlines() if "FileScan parquet" in ln]
    assert scans and all(
        "props" not in ln and "value" not in ln for ln in scans
    ), sl

    se = executed_plan(q.events_session_window(spark, SF_ORACLE))
    # session merge shuffles on (user, session key) — never one task
    assert "SinglePartition" not in se, se
    scans = [ln for ln in se.splitlines() if "FileScan parquet" in ln]
    assert scans and all(
        "props" not in ln and "value" not in ln for ln in scans
    ), se


def test_source_caps_partitioned_rank_and_group_limit(spark):
    """source_caps (r11): the cap rank partitions BY SOURCE (bounded
    groups — never a global sort), and the kept-rows form of the same
    rank compiles to WindowGroupLimit (per-group top-k heaps: the rank
    never materializes past the cap)."""
    from pyspark.sql import Window

    from vector_db_setup_spark.plans.inspect import executed_plan

    plan = executed_plan(q.source_caps(spark, SF_ORACLE))
    assert "windowspecdefinition(source" in plan, plan
    assert "SinglePartition" not in plan, plan

    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("-cap"))),
            F.col("doc_id"),
        )
    )
    kept = (
        load_table(spark, SF_ORACLE, "documents")
        .select("source", "doc_id", rk.alias("rk"))
        .filter("rk <= 10")
    )
    assert "WindowGroupLimit" in executed_plan(kept)


def test_r12_rotation_queries_plan_shapes(spark):
    """The four r12-rotated-in driver rows: no SinglePartition
    anywhere; knn_per_lang's grouped top-k compiles to partial+final
    WindowGroupLimit (each input partition pruned to its local top-3
    BEFORE the lang exchange); rrf_fusion_per_query's windows all
    partition by query_id."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    kl = executed_plan(q.knn_per_lang(spark, SF_ORACLE))
    assert "SinglePartition" not in kl, kl
    assert kl.count("WindowGroupLimit") >= 2, kl  # partial + final
    assert "windowspecdefinition(lang" in kl, kl

    rrf = executed_plan(q.rrf_fusion_per_query(spark, SF_ORACLE))
    assert "SinglePartition" not in rrf, rrf
    specs = [
        ln for ln in rrf.splitlines() if "windowspecdefinition(" in ln
    ]
    assert specs and all(
        "windowspecdefinition(query_id" in ln for ln in specs
    ), rrf

    dq = executed_plan(q.dedup_keepers_by_quality(spark, SF_ORACLE))
    assert "SinglePartition" not in dq, dq
    assert "Cartesian" not in dq, dq


def test_r13_rotation_queries_plan_shapes(spark):
    """The four r13-rotated-in driver rows (PLANS.md r13 sections):
    quantized_knn's fit reaches the corpus by a 1-row broadcast cross
    (never a corpus shuffle) and both top-k stages compile to
    TakeOrderedAndProject; ivf_cluster_sizes / lsh_bucket_counts are
    pure map-stage assignments against literals with zero
    SinglePartition; orders_sample_stats samples by an md5 Filter on
    the scan (no Sample operator) and its only SinglePartition carries
    the one summary row."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    qk = executed_plan(q.quantized_knn(spark, SF_ORACLE))
    assert qk.count("TakeOrderedAndProject") == 2, qk  # approx + rerank
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in qk, qk
    # the only SinglePartition is the 1-row min/max fit aggregate
    assert qk.count("Exchange SinglePartition") == 1, qk
    # the 128 per-dimension min/max partials are elided after the
    # first ~25 ("... N more fields") — partial_min proves the
    # map-side combine either way
    assert "partial_min" in qk, qk
    # the corpus is never hash-shuffled
    assert "Exchange hashpartitioning" not in qk, qk

    for name in ("ivf_cluster_sizes", "lsh_bucket_counts"):
        plan = executed_plan(getattr(q, name)(spark, SF_ORACLE))
        assert "SinglePartition" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)  # literals, not a dim
        assert "partial_count" in plan, (name, plan)  # map-side combine

    ss = executed_plan(q.orders_sample_stats(spark, SF_ORACLE))
    assert "Sample" not in ss, ss  # md5 membership, not DataFrame.sample
    assert "partial_avg" in ss and "partial_count" in ss, ss
    assert ss.count("Exchange SinglePartition") == 1, ss
    scans = [ln for ln in ss.splitlines() if "FileScan parquet" in ln]
    # scan prunes to the two referenced columns
    assert scans and all(
        "o_orderdate" not in ln and "o_comment" not in ln for ln in scans
    ), ss


def test_r13_addition_queries_plan_shapes(spark):
    """The two r13 curation additions (PLANS.md sections):
    benchmark_semantic_overlap is ONE map stage — literal benchmark
    vectors in the Project, zero exchanges of any kind, final
    TakeOrderedAndProject; length_outliers_by_mad broadcasts its
    bounded per-language stats back onto the scan and never creates a
    SinglePartition exchange."""
    from vector_db_setup_spark.plans.inspect import executed_plan

    so = executed_plan(q.benchmark_semantic_overlap(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in so, so
    assert "Join" not in so, so
    assert "Exchange" not in so, so  # pure map stage
    scans = [ln for ln in so.splitlines() if "FileScan parquet" in ln]
    assert scans and all("ReadSchema: struct<vec_id:bigint,embedding" in ln for ln in scans), so

    mo = executed_plan(q.length_outliers_by_mad(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in mo, mo
    assert "FlatMapGroupsInPandas" in mo, mo  # the MAD UDAF stage
    assert "TakeOrderedAndProject" in mo, mo
    assert "Exchange SinglePartition" not in mo, mo
