"""Regression pins for the r10 review-pass findings on the snapshot
table: upsert layout/stats inheritance, pruned-read schema stability
on evolved lineages, the merge fast-CDC duplicate-prior guard, the
tag-vs-GC TOCTOU re-check, null-key refusals distinct from duplicate
refusals, version-format overflow, and the delete-run fallback's
single-probe contract."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import vector_db_setup_spark.sources.snapshot_table as st
from vector_db_setup_spark.sources.snapshot_table import (
    append_snapshot,
    delete_from_snapshot,
    merge_snapshot,
    read_snapshot,
    snapshot_changes,
    snapshot_diff,
    snapshot_info,
    tag_snapshot,
    upsert_snapshot,
    write_snapshot,
)


def _df(spark, rows, schema="id long, cat string, v string"):
    return spark.createDataFrame(rows, schema)


def test_upsert_inherits_partitioning_and_stats(spark, tmp_path):
    """One upsert must not flatten a hive-partitioned head or drop its
    file-skipping stats: the next partitioned append previously raised
    a layout mismatch and readers silently lost pruning."""
    base = str(tmp_path / "t")
    write_snapshot(
        _df(spark, [(1, "a", "x"), (2, "b", "y")]), base,
        partition_by=["cat"],
    )
    upsert_snapshot(_df(spark, [(2, "b", "y2"), (3, "a", "z")]), base, "id")
    info = snapshot_info(spark, base, 2)
    assert info.get("partition_by") == ["cat"]
    # the pipeline shape that used to break: partitioned append on top
    append_snapshot(
        _df(spark, [(4, "b", "w")]), base, partition_by=["cat"]
    )
    got = {
        (r["id"], r["cat"], r["v"])
        for r in read_snapshot(spark, base).collect()
    }
    assert got == {(1, "a", "x"), (2, "b", "y2"), (3, "a", "z"), (4, "b", "w")}


def test_upsert_inherits_stats_cols(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(
        spark.range(0, 100).select(
            F.col("id"), F.col("id").cast("string").alias("v")
        ),
        base, stats_cols=["id"], cluster_by=["id"], cluster_files=4,
    )
    upsert_snapshot(
        spark.range(100, 110).select(
            F.col("id"), F.lit("new").alias("v")
        ),
        base, "id",
    )
    stats = snapshot_info(spark, base, 2).get("stats")
    assert stats and stats.get("cols") == ["id"]
    # and the pruned read still skips + returns the right rows
    got = {
        r["id"]
        for r in read_snapshot(
            spark, base, key_between=("id", 100, 109)
        ).collect()
    }
    assert got == set(range(100, 110))


def test_pruned_read_of_evolved_lineage_keeps_union_schema(spark, tmp_path):
    """A key_between probe whose surviving files all predate an evolved
    column must STILL return that column (null-filled) — the schema of
    a version cannot depend on the probe range."""
    base = str(tmp_path / "t")
    write_snapshot(
        spark.range(0, 50).select(F.col("id"), F.lit("x").alias("a")),
        base, stats_cols=["id"], cluster_by=["id"], cluster_files=2,
    )
    append_snapshot(
        spark.range(1000, 1050).select(
            F.col("id"), F.lit("y").alias("a"), F.lit(7).alias("extra")
        ),
        base, merge_schema=True, stats_cols=["id"],
    )
    full = read_snapshot(spark, base)
    pruned = read_snapshot(spark, base, key_between=("id", 0, 49))
    assert sorted(pruned.columns) == sorted(full.columns)
    rows = pruned.collect()
    assert len(rows) == 50 and all(r["extra"] is None for r in rows)
    # the evolved-dir side keeps its values through the same path
    hi = read_snapshot(spark, base, key_between=("id", 1000, 1049))
    assert sorted(hi.columns) == sorted(full.columns)
    assert all(r["extra"] == 7 for r in hi.collect())


def test_merge_fast_cdc_refuses_duplicate_prior_keys(spark, tmp_path):
    """A prior version holding duplicate keys (legal via
    write_snapshot) must not make the fast merge attribution silently
    emit doubled rows: fast falls back to the full diff, which raises
    its canonical duplicate refusal — fast and oracle agree."""
    base = str(tmp_path / "t")
    write_snapshot(
        _df(spark, [(1, "a", "x"), (1, "a", "x2"), (2, "b", "y")]), base
    )
    merge_snapshot(_df(spark, [(1, "a", "x3")]), base, key_col="id")
    for fast in (True, False):
        with pytest.raises(ValueError, match="duplicate"):
            snapshot_changes(
                spark, base, "id", from_version=1, fast=fast,
                columns=["v"],
            ).collect()


def test_tag_snapshot_undoes_pin_when_gc_wins_race(spark, tmp_path):
    """If a concurrent GC reclaims the version between tag_snapshot's
    existence check and its create, the pin is undone and the call
    raises — no permanent tag naming a destroyed version."""
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, [(1, "a", "x")]), base)
    write_snapshot(_df(spark, [(2, "b", "y")]), base)
    fs = st._resolve_fs(spark, base, None)
    real_create = fs.create_new
    marker = f"{base}/{st.COMMITS_DIR}/{st._vname(1)}"

    def racing_create(path, body):
        if st.TAGS_DIR in path:
            fs.delete(marker)  # the GC sneaks in mid-tag
        return real_create(path, body)

    fs.create_new = racing_create
    try:
        with pytest.raises(FileNotFoundError, match="concurrent GC"):
            tag_snapshot(spark, base, "pin1", version=1, fs=fs)
    finally:
        fs.create_new = real_create
    assert not fs.exists(f"{base}/{st.TAGS_DIR}/pin1")


def test_null_key_refused_with_its_own_message(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, [(1, "a", "x")]), base)
    null_batch = spark.createDataFrame(
        [(None, "a", "z")], "id long, cat string, v string"
    )
    with pytest.raises(ValueError, match="NULL id"):
        upsert_snapshot(null_batch, base, "id")
    with pytest.raises(ValueError, match="NULL id"):
        merge_snapshot(null_batch, base, key_col="id")
    # a table version holding a null key: the diff says NULL, not
    # 'duplicate keys' (countDistinct ignores nulls — the old guard
    # misdiagnosed)
    write_snapshot(
        _df(spark, [(1, "a", "x")]).unionByName(null_batch), base
    )
    with pytest.raises(ValueError, match="NULL id"):
        snapshot_diff(spark, base, 1, 2, "id").collect()


def test_version_format_overflow_refused_loudly(spark):
    with pytest.raises(ValueError, match="digit capacity"):
        st._vname(10**st._V_DIGITS)
    assert st._vname(10**st._V_DIGITS - 1)  # the last valid one formats


def test_delete_run_fallback_probes_once(spark, tmp_path, monkeypatch):
    """When the coalesced delete-run attribution bails, the fallback
    attributes the whole run per-step and jumps past it — the run
    kernel must be invoked ONCE for the storm, not once per remaining
    suffix (O(run²) schema probes)."""
    base = str(tmp_path / "t")
    write_snapshot(
        spark.range(0, 40).select(
            F.col("id"), F.col("id").cast("string").alias("v")
        ),
        base,
    )
    for lo in (0, 5, 10, 15):
        delete_from_snapshot(
            spark.range(lo, lo + 3).select(F.col("id")), base,
            key_col="id",
        )
    calls = []
    real = st._fast_delete_run

    def bailing(*a, **kw):
        calls.append(1)
        return None  # simulate the column-gap bail

    monkeypatch.setattr(st, "_fast_delete_run", bailing)
    feed = snapshot_changes(
        spark, base, "id", from_version=1, columns=["v"]
    )
    got = {(r["id"], r["status"], r["version"]) for r in feed.collect()}
    assert len(calls) == 1, f"run kernel re-probed {len(calls)} times"
    monkeypatch.setattr(st, "_fast_delete_run", real)
    want = {
        (r["id"], r["status"], r["version"])
        for r in snapshot_changes(
            spark, base, "id", from_version=1, columns=["v"], fast=False
        ).collect()
    }
    assert got == want and len(got) == 12


# ---- commit_log review findings ----


def test_span_rewrite_drain_needs_no_compaction(spark, tmp_path, monkeypatch):
    """A source merge that REWRITES docs must drain into the span index
    without tripping TombstonedKeyError -> O(index) compaction: the
    re-landed occ_keys go through the merge's scoped tombstone, only
    RETIRED keys (doc shrank/deleted) get unscoped tombstones."""
    import vector_db_setup_spark.streaming.commit_log as cl
    from tests.test_span_index import _corpus, _scratch_index
    from vector_db_setup_spark.streaming.commit_log import (
        maintain_span_index_from_commits,
    )

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    write_snapshot(_corpus(spark, 0, 60), src)
    kw = dict(text_col="text", key_col="doc_id", shingle_n=8)
    maintain_span_index_from_commits(
        spark, src, idx, str(tmp_path / "ck"), **kw
    )
    compactions = []
    real_compact = st.compact_snapshot

    def counting(*a, **k):
        compactions.append(1)
        return real_compact(*a, **k)

    monkeypatch.setattr(st, "compact_snapshot", counting)
    # same-length rewrite + a shrinking rewrite + fresh docs, one merge
    rewrite = _corpus(spark, 0, 10, rev="v2")  # 11 tokens (longer)
    shrunk = spark.range(10, 15).select(
        F.col("id").alias("doc_id"),
        F.lit("tiny text").alias("text"),  # < shingle_n tokens
    )
    merge_snapshot(
        rewrite.unionByName(shrunk).unionByName(_corpus(spark, 500, 505)),
        src, key_col="doc_id",
    )
    maintain_span_index_from_commits(
        spark, src, idx, str(tmp_path / "ck"), **kw
    )
    assert compactions == [], "rewrite drain forced an index compaction"
    got = sorted(
        tuple(r)
        for r in read_snapshot(spark, idx)
        .select("occ_key", "doc_id", "pos", "gram")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in _scratch_index(spark, read_snapshot(spark, src))
        .collect()
    )
    assert got == want and got


def test_short_doc_removal_emits_no_phantom_tombstones(spark, tmp_path):
    """Deleting a doc shorter than shingle_n tokens must land NO
    occurrence tombstones (sequence(1,0) would have emitted phantom
    keys pos 1 and 0, poisoning the doc's future re-add)."""
    from tests.test_span_index import _corpus
    from vector_db_setup_spark.streaming.commit_log import (
        maintain_span_index_from_commits,
    )

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    short = spark.createDataFrame(
        [(7, "too short")], "doc_id long, text string"
    )
    write_snapshot(_corpus(spark, 0, 5).unionByName(short), src)
    kw = dict(text_col="text", key_col="doc_id", shingle_n=8)
    maintain_span_index_from_commits(
        spark, src, idx, str(tmp_path / "ck"), **kw
    )
    v0 = len(st.committed_versions(spark, idx))
    delete_from_snapshot(
        spark.createDataFrame([(7,)], "doc_id long"), src,
        key_col="doc_id",
    )
    maintain_span_index_from_commits(
        spark, src, idx, str(tmp_path / "ck"), **kw
    )
    # the short doc had zero occurrence rows: the drain must be a no-op
    # on the index (no delete commit, no tombstone entries)
    assert len(st.committed_versions(spark, idx)) == v0
    info = snapshot_info(
        spark, idx, max(st.committed_versions(spark, idx))
    )
    assert not [
        e for e in (info.get("deletes") or []) if "seq" not in e
    ], "phantom unscoped tombstones landed for a zero-occurrence doc"
    # and a later LONG re-add of the same id works without healing
    # (the SOURCE requires a compact before re-merging a deleted key —
    # its own documented contract; the index drain consumes both)
    st.compact_snapshot(spark, src)
    merge_snapshot(
        spark.createDataFrame(
            [(7, "alpha beta gamma delta epsilon zeta eta theta nine")],
            "doc_id long, text string",
        ),
        src, key_col="doc_id",
    )
    maintain_span_index_from_commits(
        spark, src, idx, str(tmp_path / "ck"), **kw
    )
    assert (
        read_snapshot(spark, idx).filter(F.col("doc_id") == 7).count() == 2
    )


def test_span_index_rejects_out_of_range_doc_ids(spark, tmp_path):
    """doc_id outside [0, 2^41) would alias another doc's occ_key range
    (the packing discards high bits) — the drain must fail loudly."""
    from vector_db_setup_spark.streaming.commit_log import (
        maintain_span_index_from_commits,
    )

    src = str(tmp_path / "src")
    big = spark.createDataFrame(
        [(1 << 41, "alpha beta gamma delta epsilon zeta eta theta x")],
        "doc_id long, text string",
    )
    write_snapshot(big, src)
    with pytest.raises(Exception, match="occ_key packing range"):
        maintain_span_index_from_commits(
            spark, src, str(tmp_path / "idx"), str(tmp_path / "ck"),
            text_col="text", key_col="doc_id", shingle_n=8,
        )


def test_lsh_rk_is_long_for_int_keys(spark, tmp_path):
    """An int-typed key must not wrap 32-bit arithmetic in the rk
    packing: rk is computed in long."""
    from vector_db_setup_spark.streaming.commit_log import (
        maintain_lsh_index_from_commits,
    )

    src = str(tmp_path / "src")
    docs = spark.createDataFrame(
        [(700_000_000, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id int, text string",
    )
    write_snapshot(docs, src)
    idx = str(tmp_path / "idx")
    maintain_lsh_index_from_commits(
        spark, src, idx, str(tmp_path / "ck"),
        text_col="text", key_col="doc_id", bands=4,
    )
    rows = read_snapshot(spark, idx).collect()
    assert dict(read_snapshot(spark, idx).dtypes)["rk"] == "bigint"
    # 700M * 4 overflows int32; the packed keys must be exact
    assert {r["rk"] for r in rows} == {
        700_000_000 * 4 + b for b in range(4)
    }


def test_ivf_maintainer_refuses_geometry_drift(spark, tmp_path):
    from vector_db_setup_spark.streaming.commit_log import (
        maintain_ivf_from_commits,
    )

    src = str(tmp_path / "src")
    vecs = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("float"),
            (F.col("id") % 3).cast("float"),
        ).alias("embedding"),
    )
    write_snapshot(vecs, src)
    idx = str(tmp_path / "idx")
    maintain_ivf_from_commits(
        spark, src, idx, str(tmp_path / "ck"), key_col="vec_id", k=4
    )
    # the refusal surfaces wrapped by the streaming machinery
    with pytest.raises(Exception, match="different geometry"):
        maintain_ivf_from_commits(
            spark, src, idx, str(tmp_path / "ck2"), key_col="vec_id", k=8
        )


def test_agg_maintainer_refuses_key_col_drift(spark, tmp_path):
    from vector_db_setup_spark.streaming.commit_log import (
        maintain_agg_from_commits,
    )

    src = str(tmp_path / "src")
    write_snapshot(
        spark.range(0, 30).select(
            F.col("id").alias("doc_id"),
            F.col("id").alias("chunk_id"),
            (F.col("id") % 3).cast("string").alias("lang"),
        ),
        src,
    )
    stt = str(tmp_path / "agg")
    maintain_agg_from_commits(
        spark, src, stt, str(tmp_path / "ck"),
        group_col="lang", key_col="doc_id",
    )
    with pytest.raises(Exception, match="feed key"):
        maintain_agg_from_commits(
            spark, src, stt, str(tmp_path / "ck2"),
            group_col="lang", key_col="chunk_id",
        )


def test_agg_maintainer_skips_state_rewrite_on_empty_delta(spark, tmp_path):
    """A compact-only drained range yields an empty feed: the state
    must NOT re-land (no version bump per no-op drain)."""
    from vector_db_setup_spark.streaming.commit_log import (
        maintain_agg_from_commits,
    )

    src = str(tmp_path / "src")
    write_snapshot(
        spark.range(0, 30).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 3).cast("string").alias("lang"),
        ),
        src,
    )
    stt = str(tmp_path / "agg")
    kw = dict(group_col="lang", key_col="doc_id")
    maintain_agg_from_commits(spark, src, stt, str(tmp_path / "ck"), **kw)
    n0 = len(st.committed_versions(spark, stt))
    st.compact_snapshot(spark, src)
    maintain_agg_from_commits(spark, src, stt, str(tmp_path / "ck"), **kw)
    assert len(st.committed_versions(spark, stt)) == n0
    # and a real delta afterwards still lands correctly
    append_snapshot(
        spark.range(100, 110).select(
            F.col("id").alias("doc_id"), F.lit("xx").alias("lang")
        ),
        src,
    )
    maintain_agg_from_commits(spark, src, stt, str(tmp_path / "ck"), **kw)
    got = {
        (r["lang"], r["cnt"])
        for r in read_snapshot(spark, stt).collect()
    }
    assert ("xx", 10) in got


def test_maintenance_cycle_compacts_subscriber_states(spark, tmp_path):
    """compact_subscribers: the cycle absorbs the INDEX's merge-on-read
    debt (delete+merge commits pile up per drain now that rewrite
    drains no longer compact it accidentally via the heal path)."""
    from functools import partial

    from tests.test_span_index import _corpus
    from vector_db_setup_spark.streaming.commit_log import (
        maintain_span_index_from_commits,
        maintenance_cycle,
    )

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    write_snapshot(_corpus(spark, 0, 40), src)
    drain = partial(
        maintain_span_index_from_commits,
        spark, src, idx, str(tmp_path / "ck"),
        text_col="text", key_col="doc_id", shingle_n=8,
    )
    drain()
    for i in range(3):  # three rewrite cycles -> index takes 3 merges
        merge_snapshot(
            _corpus(spark, i * 5, i * 5 + 5, rev=f"r{i}"), src,
            key_col="doc_id",
        )
    report = maintenance_cycle(
        spark, src,
        drains=[drain],
        subscriber_states=[idx],
        compact_subscribers=dict(max_data_dirs=1, max_delete_entries=1),
        gc=None, checkpoint=False,
    )
    assert report["compacted_subscribers"][idx] is not None
    info = snapshot_info(
        spark, idx, max(st.committed_versions(spark, idx))
    )
    assert len(info["data"] if isinstance(info["data"], list) else [1]) == 1
    assert not info.get("deletes")
    # the cursor survived the compaction (keep_meta) — next drain is a
    # no-op, not an 'unmaintained state' refusal
    from vector_db_setup_spark.operators.span_dedup import _POS_CAP

    drain()
    got = sorted(
        tuple(r) for r in read_snapshot(spark, idx)
        .select("occ_key", "doc_id").collect()
    )
    want = sorted(
        (r["doc_id"] * _POS_CAP + r["pos"], r["doc_id"])
        for r in spark.createDataFrame(
            read_snapshot(spark, src).select("doc_id", "text").collect()
        ).selectExpr(
            "doc_id",
            "posexplode(sequence(1, size(split(text, ' ')) - 7)) as (i, pos)",
        ).select("doc_id", "pos").collect()
    )
    assert got == want and got


# ---- ann_index review findings ----


def _vecs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("float"), (F.col("id") % 3).cast("float")
        ).alias("embedding"),
    )


def test_compact_ivf_index_stamps_compact_op(spark, tmp_path):
    """The index compaction must commit op='compact' (delegating to
    generic compact_snapshot) so index SUBSCRIBERS consume the step
    free instead of refusing it as a content rewrite."""
    from vector_db_setup_spark.operators.ann_index import (
        build_ivf_index,
        compact_ivf_index,
        search_ivf_index,
    )

    idx = str(tmp_path / "idx")
    build_ivf_index(_vecs(spark, 0, 40), idx, k=4)
    v = compact_ivf_index(spark, idx)
    info = snapshot_info(spark, idx, v)
    assert info.get("op") == "compact"
    assert (info.get("meta") or {}).get("kind") == "ivf"  # keep_meta
    assert info.get("partition_by") == ["cluster_id"]  # layout inherited
    # a key-presence feed with the standard contract consumes it
    feed = snapshot_changes(
        spark, idx, "vec_id", from_version=1,
        allowed_ops=("append", "delete", "compact", "merge"),
    )
    assert feed.count() == 0  # compact adds/removes nothing
    # and search still resolves the compacted head
    assert search_ivf_index(spark, idx, [1.0, 1.0], topk=3).count() == 3


def test_extra_meta_cannot_clobber_index_keys(spark, tmp_path):
    from vector_db_setup_spark.operators.ann_index import (
        build_ivf_index,
        merge_into_ivf_index,
    )

    with pytest.raises(ValueError, match="index's own keys"):
        build_ivf_index(
            _vecs(spark, 0, 20), str(tmp_path / "idx"), k=4,
            extra_meta={"kind": "ivf-v2"},
        )
    # non-reserved audit fields still ride through
    idx = str(tmp_path / "idx2")
    build_ivf_index(
        _vecs(spark, 0, 20), idx, k=4, extra_meta={"built_by": "test"}
    )
    meta = snapshot_info(spark, idx, 1)["meta"]
    assert meta["built_by"] == "test" and meta["kind"] == "ivf"
    # a maintenance write's batch counter is the index's own key too
    with pytest.raises(ValueError, match="index's own keys"):
        merge_into_ivf_index(
            _vecs(spark, 0, 5), idx, extra_meta={"merged_batches": 0}
        )


def test_gemm_assign_tolerates_null_and_ragged_vectors(spark):
    """The large-k GEMM path must match the expression path's NULL
    contract: null/wrong-width vectors land with NULL cluster_id, not
    a np.stack crash of the whole job."""
    import numpy as np

    from vector_db_setup_spark.operators.ann import (
        ivf_assign,
        ivf_assign_gemm,
    )

    cents = np.array([[0.0, 0.0], [10.0, 10.0]])
    rows = spark.createDataFrame(
        [
            (1, [0.5, 0.5]),
            (2, None),
            (3, [9.0, 9.0]),
            (4, [1.0, 2.0, 3.0]),  # ragged
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cluster_id"], r["d"])
        for r in ivf_assign_gemm(
            rows, cents, dist_col="d"
        ).collect()
    }
    assert got[1][0] == 0 and got[3][0] == 1
    assert got[2] == (None, None) and got[4] == (None, None)
    # parity with the expression path on the valid rows
    expr = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign(
            rows.filter("vec_id in (1, 3)"), cents
        ).collect()
    }
    assert expr == {1: 0, 3: 1}


# ---- shards / snapshot_sink review findings ----


def test_all_null_text_shard_audits_ok(spark, tmp_path):
    """A shard whose docs all carry NULL text stores total_chars NULL
    in both manifests; the audit must be null-safe (intact != corrupt)."""
    from vector_db_setup_spark.sources.shards import (
        verify_shards,
        write_training_shards,
    )

    dest = str(tmp_path / "shards")
    docs = spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
    )
    write_training_shards(docs, dest, n_shards=2)
    rep = verify_shards(spark, dest).collect()
    assert rep and all(r["ok"] for r in rep)


def test_shard_guards_raise_before_writes(spark, tmp_path):
    from vector_db_setup_spark.sources.shards import (
        assign_shard,
        write_training_shards,
    )

    docs = spark.range(0, 5).select(
        F.col("id").alias("uid"), F.lit("t").alias("text")
    )
    with pytest.raises(ValueError, match="n_shards must be positive"):
        assign_shard(docs, 0, id_col="uid")
    with pytest.raises(ValueError, match="shard_id column"):
        assign_shard(docs.withColumn("shard_id", F.lit(1)), 2, id_col="uid")
    with pytest.raises(ValueError, match="already has a doc_id"):
        write_training_shards(
            docs.withColumn("doc_id", F.lit(9)),
            str(tmp_path / "d"), 2, id_col="uid",
        )


def test_failed_removed_shard_delete_aborts_before_manifest(
    spark, tmp_path, monkeypatch
):
    """A failed delete of a removed shard must abort the landing with
    the OLD manifest intact — committing the new manifest would orphan
    the stale shard outside every future diff (served forever)."""
    import vector_db_setup_spark.sources.fs as fsmod
    from vector_db_setup_spark.sources.shards import land_snapshot

    dest = str(tmp_path / "shards")
    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("string").alias("text"),
    )
    land_snapshot(docs, dest, n_shards=4)
    # second landing drops enough docs that one shard empties...
    # (hash spread: keep only a slice that misses some shard)
    kept = docs.filter(F.col("doc_id") < 3)
    real_get_fs = fsmod.get_fs

    class FlakyFS:
        def __init__(self, inner):
            self._inner = inner

        def delete(self, path, ignore_errors=False):
            raise OSError(f"transient 503 deleting {path}")

        def __getattr__(self, name):
            return getattr(self._inner, name)

    monkeypatch.setattr(
        fsmod, "get_fs", lambda s, p: FlakyFS(real_get_fs(s, p))
    )
    import pandas as pd

    old_manifest = pd.read_parquet(f"{dest}/_manifest")
    with pytest.raises(OSError, match="transient 503"):
        land_snapshot(kept, dest, n_shards=4)
    monkeypatch.setattr(fsmod, "get_fs", real_get_fs)
    # the OLD manifest survived the aborted landing — the retry still
    # sees the shard as 'removed' and re-deletes
    now = pd.read_parquet(f"{dest}/_manifest")
    assert sorted(now["shard_id"]) == sorted(old_manifest["shard_id"])
    rep = {
        r["shard_id"]: r["status"]
        for r in land_snapshot(kept, dest, n_shards=4).collect()
    }
    assert "removed" in rep.values()


def test_two_sinks_distinct_checkpoints_do_not_collide(spark, tmp_path):
    """Two streams landing into ONE table with default producer ids
    must not share idempotency keys: the derived checkpoint identity
    keeps both batch-0 appends."""
    from vector_db_setup_spark.streaming.commit_log import (
        stream_snapshot_commits,
    )
    from vector_db_setup_spark.streaming.snapshot_sink import snapshot_sink

    src_a = str(tmp_path / "src_a")
    src_b = str(tmp_path / "src_b")
    dest = str(tmp_path / "dest")
    write_snapshot(
        spark.range(0, 5).select(F.col("id").alias("doc_id")), src_a
    )
    write_snapshot(
        spark.range(100, 105).select(F.col("id").alias("doc_id")), src_b
    )
    for src, ck in ((src_a, "ck_a"), (src_b, "ck_b")):
        q = snapshot_sink(
            stream_snapshot_commits(spark, src).select("version"),
            dest,
            str(tmp_path / ck),
        )
        q.awaitTermination()
    # both streams' batch 0 landed: 2 versions, 2 rows
    assert len(st.committed_versions(spark, dest)) == 2
    assert read_snapshot(spark, dest).count() == 2


def test_hll_compaction_survives_null_event_type(spark, tmp_path):
    """A NULL event_type group (JSON transport rows with a null field)
    must not TypeError the compaction verify's sort."""
    from vector_db_setup_spark.streaming.events import (
        compact_user_cardinality,
        hll_merge_batch,
        read_user_cardinality,
    )

    path = str(tmp_path / "hll")
    events = spark.createDataFrame(
        [("click", 1), (None, 2), (None, 3), ("click", 4)],
        "event_type string, user_id long",
    )
    hll_merge_batch(events, 0, path)
    hll_merge_batch(events.filter("user_id >= 3"), 1, path)
    before = {
        r["event_type"]: r["est_users"]
        for r in read_user_cardinality(spark, path).collect()
    }
    compact_user_cardinality(spark, path)
    after = {
        r["event_type"]: r["est_users"]
        for r in read_user_cardinality(spark, path).collect()
    }
    assert before == after and None in after and len(after) == 2


# ---- graph review findings ----


def test_cc_converges_when_diameter_equals_max_iter(spark):
    """A path graph whose last label change lands exactly in round
    max_iter must converge (the confirming round is free), not raise —
    the documented contract is max_iter >= diameter."""
    from vector_db_setup_spark.operators.graph import connected_components

    n = 7  # path 0-1-2-...-6: diameter 6
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            nodes, edges, max_iter=n - 1
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_auto_driver_cap_counts_undirected_edges_once(spark, monkeypatch):
    """A symmetric pair list (both orientations emitted) must count
    each undirected edge ONCE against the driver cap — reversed
    duplicates must not push a small graph onto the iterative path."""
    import vector_db_setup_spark.operators.graph as g

    n = 40
    sym_edges = [(i, i + 1) for i in range(n - 1)] + [
        (i + 1, i) for i in range(n - 1)
    ]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(sym_edges, "src long, dst long")
    called = []
    real = g.connected_components

    def spy(*a, **kw):
        called.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(g, "connected_components", spy)
    got = {
        r["id"]: r["component"]
        for r in g.connected_components_auto(
            nodes, edges, max_driver_edges=n - 1  # fits ONLY if deduped
        ).collect()
    }
    assert called == [], "driver path skipped: reversed dups hit the cap"
    assert got == {i: 0 for i in range(n)}


# ---- ADVICE r10 fixes ----


def test_partial_removed_shard_delete_retry_succeeds(
    spark, tmp_path, monkeypatch
):
    """PARTIAL delete failure then retry: the first attempt deletes one
    removed shard and fails on the next, aborting with the old
    manifest. The retry re-sees the already-deleted shard as 'removed';
    a strict delete on the missing dir would raise forever and wedge
    every future landing — path-missing must count as success."""
    import vector_db_setup_spark.sources.fs as fsmod
    from vector_db_setup_spark.sources.shards import (
        assign_shard,
        land_snapshot,
        verify_shards,
    )

    dest = str(tmp_path / "shards")
    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("string").alias("text"),
    )
    land_snapshot(docs, dest, n_shards=4)
    # keep only shard 0's docs -> shards 1..3 all empty ('removed')
    keep_ids = [
        r["doc_id"]
        for r in assign_shard(docs, 4)
        .filter(F.col("shard_id") == 0)
        .collect()
    ]
    assert keep_ids
    kept = docs.filter(F.col("doc_id").isin(keep_ids))
    real_get_fs = fsmod.get_fs

    class FailsAfterOneDelete:
        def __init__(self, inner):
            self._inner = inner
            self._deletes = 0

        def delete(self, path, ignore_errors=False):
            self._deletes += 1
            if self._deletes > 1:
                raise OSError(f"transient 503 deleting {path}")
            return self._inner.delete(path, ignore_errors=ignore_errors)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    monkeypatch.setattr(
        fsmod, "get_fs", lambda s, p: FailsAfterOneDelete(real_get_fs(s, p))
    )
    with pytest.raises(OSError, match="transient 503"):
        land_snapshot(kept, dest, n_shards=4)
    monkeypatch.setattr(fsmod, "get_fs", real_get_fs)
    # retry with a healthy store: the shard deleted by the FAILED
    # attempt is gone on disk but still in the old manifest — the
    # landing must treat the missing dir as already-deleted
    rep = {
        r["shard_id"]: r["status"]
        for r in land_snapshot(kept, dest, n_shards=4).collect()
    }
    assert [s for s in rep.values() if s == "removed"]
    audit = verify_shards(spark, dest)
    assert all(r["ok"] for r in audit.collect())
    import os as _os

    for sid in (1, 2, 3):
        assert not _os.path.exists(f"{dest}/shard_id={sid}")
    assert spark.read.parquet(dest).count() == kept.count()


def test_derive_producer_id_normalizes_spelling(tmp_path, monkeypatch):
    """The derived checkpoint identity must be stable across restart
    spellings of the SAME dir (relative vs absolute, trailing slash) —
    a changed id turns replay dedup into a double-land."""
    from vector_db_setup_spark.streaming.snapshot_sink import (
        derive_producer_id,
    )

    ck = tmp_path / "ck"
    monkeypatch.chdir(tmp_path)
    spellings = [str(ck), str(ck) + "/", "ck", "./ck", "ck/"]
    ids = {derive_producer_id(s) for s in spellings}
    assert len(ids) == 1
    # distinct dirs keep distinct identities (the collision guarantee)
    assert derive_producer_id(str(tmp_path / "other")) not in ids
    # URI paths: verbatim minus trailing slash, never abspath'd
    assert derive_producer_id("hdfs://nn/ck/") == derive_producer_id(
        "hdfs://nn/ck"
    )
    assert derive_producer_id("hdfs://nn/ck") != derive_producer_id(
        "hdfs://nn/ck2"
    )


def test_maintenance_cycle_subscriber_compaction_uses_injected_fs(
    spark, tmp_path, monkeypatch
):
    """compact_subscribers must resolve the SAME injected fs as the
    base-table compaction — a silently different filesystem compacts
    subscriber state through the wrong store."""
    import vector_db_setup_spark.sources.snapshot_table as st_mod
    from vector_db_setup_spark.streaming.commit_log import maintenance_cycle

    base = str(tmp_path / "base")
    state = str(tmp_path / "state")
    write_snapshot(
        spark.range(0, 5).select(F.col("id").alias("doc_id")), base
    )
    write_snapshot(
        spark.range(0, 5).select(F.col("id").alias("doc_id")), state
    )
    seen: list[tuple[str, object]] = []
    real_compact_if = st_mod.compact_if

    def spy(spark_, path, **kw):
        seen.append((path, kw.get("fs")))
        return real_compact_if(spark_, path, **kw)

    monkeypatch.setattr(st_mod, "compact_if", spy)
    from vector_db_setup_spark.sources.fs import LocalFS

    # a DISTINCT LocalFS instance: functional for the local paths, but
    # identity-checkable — fs is only auto-resolved when None, so the
    # injected object must reach both compact_if calls untouched
    sentinel_fs = LocalFS()
    maintenance_cycle(
        spark, base,
        subscriber_states=[state],
        compact=dict(max_data_dirs=10_000),
        compact_subscribers=dict(max_data_dirs=10_000),
        checkpoint=False, gc=None, fs=sentinel_fs,
    )
    paths = {p for p, _ in seen}
    assert base in paths and state in paths
    assert all(fs is sentinel_fs for _, fs in seen)


# ---- r11 review pass: graph / events / fs ----


def test_hadoopfs_du_suffix_missing_path_matches_localfs(spark, tmp_path):
    """du_suffix on a missing path must be (0, 0) on BOTH filesystem
    implementations — LocalFS's os.walk yields nothing, and a stats
    probe racing a concurrent GC must not fail only when deployed on
    HadoopFS (listFiles raises FileNotFoundException there)."""
    from vector_db_setup_spark.sources.fs import HadoopFS, LocalFS, get_fs

    missing = str(tmp_path / "never_written")
    assert LocalFS().du_suffix(missing, ".parquet") == (0, 0)
    hfs = get_fs(spark, f"file://{missing}")
    assert isinstance(hfs, HadoopFS)
    assert hfs.du_suffix(f"file://{missing}", ".parquet") == (0, 0)
    # sanity: an existing dir still counts through both
    d = tmp_path / "data"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"xx")
    assert LocalFS().du_suffix(str(d), ".parquet") == (2, 1)
    assert get_fs(spark, f"file://{d}").du_suffix(
        f"file://{d}", ".parquet"
    ) == (2, 1)


def test_funnel_stream_ignores_null_ts_events(spark, tmp_path):
    """A null-ts view must NOT qualify the funnel: the batch twin's
    min(CASE WHEN ...) ignores nulls, but pandas NaT.value is
    INT64_MIN — unguarded, the stream installed an impossibly-early
    first view that qualified every later click."""
    from vector_db_setup_spark.streaming.events import funnel_state_stream

    rows = [
        (1, None, 7, "view", 1.0, "{}"),
        (2, "2024-01-01 01:00:00", 7, "click", 1.0, "{}"),
        (3, "2024-01-01 02:00:00", 7, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / "ev")
    df.write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    q = (
        funnel_state_stream(stream)
        .writeStream.format("memory")
        .queryName("t_funnel_nullts")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.table("t_funnel_nullts").collect()[-1]
    # no valid view -> nothing downstream qualifies (batch semantics)
    assert row["view_us"] is None
    assert row["click_us"] is None
    assert row["purchase_us"] is None


def test_load_table_memo_and_fresh_escape_hatch(spark, tmp_path):
    """load_table memoizes per (session, dir, table) — repeat calls
    return the SAME lazy plan object (the r11 warm-tax fix) — and the
    documented caveat has its escape hatch: the cached plan snapshots
    the dir's FILE LISTING, so after mutating a directory fresh=True
    re-lists while the cached object may serve the stale listing."""
    import shutil

    from vector_db_setup_spark.sources.registry import load_table

    d = tmp_path / "dir"
    d.mkdir()
    spark.range(0, 5).select(F.col("id").alias("doc_id")).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    a = load_table(spark, str(d), "documents")
    b = load_table(spark, str(d), "documents")
    assert a is b
    assert a.count() == 5
    # mutate the dir: drop in a second file with more rows
    spark.range(100, 103).select(F.col("id").alias("doc_id")).coalesce(
        1
    ).write.mode("append").parquet(str(d / "documents.parquet"))
    fresh = load_table(spark, str(d), "documents", fresh=True)
    assert fresh is not a
    assert fresh.count() == 8
    # and the fresh load REPLACES the cache entry
    assert load_table(spark, str(d), "documents") is fresh


def test_compact_parquet_restores_original_on_post_swap_failure(
    spark, tmp_path
):
    """If the swapped-in directory fails verification, compact_parquet
    must RESTORE the original at `path` (the _compact_partials
    contract) — previously the broken copy stayed live and readers ate
    it until manual repair."""
    from vector_db_setup_spark.sources.fs import LocalFS
    from vector_db_setup_spark.sources.ingest import compact_parquet

    path = str(tmp_path / "t")
    spark.range(0, 100).select(
        F.col("id"), F.col("id").cast("string").alias("v")
    ).repartition(8).write.parquet(path)
    want = {r["id"] for r in spark.read.parquet(path).collect()}

    class CorruptsAfterSwap(LocalFS):
        corrupted = False

        def move(self, src, dst):
            super().move(src, dst)
            # corrupt only the SWAP-IN (tmp -> path); the restore move
            # (back -> path) must land the original intact
            if dst.rstrip("/") == path and not self.corrupted:
                self.corrupted = True
                # the store "moved" a partial tree: plant a torn file
                with open(f"{dst}/part-torn.parquet", "wb") as f:
                    f.write(b"PAR1 this is not a parquet file")

    with pytest.raises(Exception):
        compact_parquet(spark, path, fs=CorruptsAfterSwap())
    # original restored at path, intact; no stale backup left behind
    got = {r["id"] for r in spark.read.parquet(path).collect()}
    assert got == want
    import os as _os

    assert not _os.path.exists(path + "__compact_old")


def test_compact_parquet_refuses_lossy_rewrite_before_touching(
    spark, tmp_path, monkeypatch
):
    """A rewrite that drops rows must abort with the ORIGINAL untouched
    — the bare readability check previously passed it."""
    from vector_db_setup_spark.sources import ingest as ing

    path = str(tmp_path / "t")
    spark.range(0, 50).select(F.col("id")).repartition(4).write.parquet(
        path
    )
    real_read = spark.read.parquet

    class LossyReader:
        def __getattr__(self, name):
            return getattr(spark.read, name)

        def parquet(self_, p, *a, **kw):
            df = real_read(p, *a, **kw)
            # simulate a lossy rewrite: the tmp dir reads back short
            if p.endswith("__compact_tmp"):
                return df.limit(10)
            return df

    monkeypatch.setattr(
        type(spark), "read", property(lambda s: LossyReader())
    )
    try:
        with pytest.raises(RuntimeError, match="verification failed"):
            ing.compact_parquet(spark, path)
    finally:
        monkeypatch.undo()
    assert spark.read.parquet(path).count() == 50
    import os as _os

    assert not _os.path.exists(path + "__compact_old")


# ---- r12 ADVICE fixes ----


def test_quota_admission_deterministic_across_arrow_chunks(spark, tmp_path):
    """ADVICE r11 (medium): a key group spanning multiple Arrow chunks
    must still admit the globally smallest doc_ids of the micro-batch,
    not per-chunk prefixes. Force 1-row chunks via
    arrow.maxRecordsPerBatch and deliver ids in DESCENDING order so a
    chunk-order-dependent admit would pick the largest ids first."""
    from vector_db_setup_spark.streaming.events import (
        quota_admission_stream,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        rows = [(i, "sA") for i in range(19, -1, -1)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        path = str(tmp_path / "docs")
        df.coalesce(1).write.parquet(path)
        stream = spark.readStream.schema(df.schema).parquet(path)
        q = (
            quota_admission_stream(stream, cap=3)
            .writeStream.format("memory")
            .queryName("t_quota_chunks")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            r["doc_id"] for r in spark.table("t_quota_chunks").collect()
        )
        assert got == [0, 1, 2], got
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )


def test_table_cache_is_session_weak_and_clearable(spark):
    """ADVICE r11 (low): _TABLE_CACHE must not pin stopped sessions'
    DataFrames forever — it is weak-keyed by session and has an
    explicit clear API mirroring clear_persist_cache."""
    import weakref

    from vector_db_setup_spark.sources import registry as reg

    df1 = reg.load_table(spark, "/root/testdata/sf0.001", "nation")
    assert reg.load_table(spark, "/root/testdata/sf0.001", "nation") is df1
    assert isinstance(reg._TABLE_CACHE, weakref.WeakKeyDictionary)
    assert spark in reg._TABLE_CACHE
    reg.clear_table_cache(spark)
    assert spark not in reg._TABLE_CACHE
    df2 = reg.load_table(spark, "/root/testdata/sf0.001", "nation")
    assert df2 is not df1
    reg.clear_table_cache()
    assert len(reg._TABLE_CACHE) == 0
    # the memo still works after a full clear
    assert (
        reg.load_table(spark, "/root/testdata/sf0.001", "nation")
        is reg.load_table(spark, "/root/testdata/sf0.001", "nation")
    )


def test_ppl_quantile_buckets_quotes_weird_column_names(spark):
    """ADVICE r11 (low): both percentile paths must resolve a ppl
    column containing spaces/dots as ONE identifier (backtick-quoted),
    and match the plain-named result bucket-for-bucket."""
    from vector_db_setup_spark.operators.ngram_lm import (
        ppl_quantile_buckets,
    )

    per = spark.createDataFrame(
        [(i, float(i)) for i in range(99)], "doc_id long, ppl double"
    )
    weird = "ppl value.v2"
    for exact in (False, True):
        want = {
            (r["doc_id"], r["bucket"])
            for r in ppl_quantile_buckets(per, exact=exact).collect()
        }
        got = {
            (r["doc_id"], r["bucket"])
            for r in ppl_quantile_buckets(
                per.withColumnRenamed("ppl", weird),
                ppl_col=weird,
                exact=exact,
            ).collect()
        }
        assert got == want


def test_snapshot_sink_keeps_legacy_identity_across_upgrade(
    spark, tmp_path
):
    """ADVICE r11 (low): a deployment whose checkpoint was spelled
    non-canonically (trailing slash) and committed under the verbatim-
    string hash must KEEP that identity after the normalization
    upgrade — the replayed micro-batch is dropped, not double-landed."""
    from vector_db_setup_spark.streaming.snapshot_sink import (
        derive_producer_id,
        legacy_producer_id,
        snapshot_sink,
    )

    # trailing-slash spelling: legacy (verbatim hash) != normalized
    ck = str(tmp_path / "ck_upgrade") + "/"
    assert legacy_producer_id(ck) != derive_producer_id(ck)

    base = str(tmp_path / "t")
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a")], "doc_id long, v string"
    ).write.parquet(src)
    # pre-upgrade deployment: batch 0 landed under the LEGACY identity
    write_snapshot(
        spark.createDataFrame([(1, "a")], "doc_id long, v string"),
        base,
        idempotency_key=f"{legacy_producer_id(ck)}:0",
    )
    stream = spark.readStream.schema("doc_id long, v string").parquet(src)
    # post-upgrade restart replays batch 0 from the checkpoint-less
    # start; continuity means the replay is an idempotent drop
    q = snapshot_sink(stream, base, checkpoint=ck)
    q.awaitTermination()
    assert read_snapshot(spark, base).count() == 1
    # a FRESH canonical-spelling deployment with no legacy commits
    # uses the normalized identity (no false alias adoption)
    base2 = str(tmp_path / "t2")
    ck2 = str(tmp_path / "ck2")
    q2 = snapshot_sink(stream, base2, checkpoint=ck2)
    q2.awaitTermination()
    info = snapshot_info(spark, base2, 1)
    assert info["idempotency_key"].startswith(derive_producer_id(ck2))


# ---- r12 review pass: validate / quantize / multimodal ----


def test_flag_violations_refuses_column_collision(spark):
    """An input that already carries the flag column must be refused —
    withColumn would silently replace it and quarantine_split would
    then DROP it from the clean half (caller data loss)."""
    from vector_db_setup_spark.operators.validate import (
        flag_violations,
        quarantine_split,
    )

    df = spark.createDataFrame(
        [(1, "x", ["keep-me"])],
        "id long, v string, _violations array<string>",
    )
    rules = [{"rule": "not_null", "col": "v"}]
    with pytest.raises(ValueError, match="_violations"):
        flag_violations(df, rules)
    with pytest.raises(ValueError, match="_violations"):
        quarantine_split(df, rules)
    # a different out_col works on the same frame
    out = flag_violations(df, rules, out_col="_flags")
    assert out.select("_violations").first()[0] == ["keep-me"]


def test_pq_train_keeps_callers_cache(spark):
    """pq_train persists its input for the m KMeans fits — but must
    NOT unpersist a frame the CALLER had already cached (their next
    action would silently recompute)."""
    from vector_db_setup_spark.operators.quantize import pq_train

    emb = (
        spark.range(0, 64)
        .selectExpr(
            "transform(sequence(1, 8), "
            "i -> cast((id * i) % 7 as float)) AS embedding"
        )
        .persist()
    )
    try:
        emb.count()
        assert emb.is_cached
        books = pq_train(emb, m=2, ksub=4, max_iter=2)
        assert books.shape == (2, 4, 4)
        assert emb.is_cached, "caller's cache was dropped"
        # an unpersisted input is persisted only for the duration
        emb2 = spark.range(0, 64).selectExpr(
            "transform(sequence(1, 8), "
            "i -> cast((id + i) % 5 as float)) AS embedding"
        )
        pq_train(emb2, m=2, ksub=4, max_iter=2)
        assert not emb2.is_cached
    finally:
        emb.unpersist()


def test_multimodal_extractors_survive_null_payloads(spark):
    """A NULL binary payload must not fail the Arrow batch: the three
    extractors treat it as empty bytes (n_bytes 0 / 0 samples / the
    1x1-black decode fallback)."""
    from vector_db_setup_spark.multimodal.columns import (
        extract_audio_features,
        extract_image_features,
        resize_images,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"\x01\x02\x03\x04")), (2, None)],
        "doc_id long, img binary",
    )
    img = {
        r["doc_id"]: r for r in extract_image_features(df).collect()
    }
    assert img[2]["n_bytes"] == 0 and img[2]["mean_byte"] == 0.0
    assert img[1]["n_bytes"] == 4
    aud = {
        r["doc_id"]: r for r in extract_audio_features(df).collect()
    }
    assert aud[2]["n_samples"] == 0 and aud[2]["rms"] == 0.0
    rs = {r["doc_id"]: r for r in resize_images(df).collect()}
    assert rs[2]["out_h"] == 4 and rs[2]["mean_px"] == 0.0
    assert set(rs) == {1, 2}


def test_bpe_encode_refuses_out_col_collision(spark):
    """Same guard class as flag_violations: appending a duplicate
    field to the mapInPandas schema yields an ambiguous column."""
    from vector_db_setup_spark.operators.bpe import bpe_encode

    df = spark.createDataFrame(
        [("ab ab", ["x"])], "text string, bpe_tokens array<string>"
    )
    with pytest.raises(ValueError, match="bpe_tokens"):
        bpe_encode(df, [("a", "b")])
    out = bpe_encode(df, [("a", "b")], out_col="toks")
    row = out.first()
    assert row["bpe_tokens"] == ["x"]  # caller data intact
    assert row["toks"] == ["ab", "</w>", "ab", "</w>"]


def test_shard_export_refuses_map_columns_before_writing(
    spark, tmp_path
):
    """A map-typed column breaks the manifest checksum (xxhash64 has
    no MapType hash) — the refusal must land BEFORE any shard data is
    written, not in the manifest aggregation after."""
    import os

    from vector_db_setup_spark.sources.shards import (
        land_snapshot,
        write_training_shards,
    )

    df = spark.createDataFrame(
        [(1, "t", {"k": "v"})],
        "doc_id long, text string, props map<string,string>",
    )
    dest = str(tmp_path / "shards")
    with pytest.raises(ValueError, match="map-typed"):
        write_training_shards(df, dest, n_shards=2)
    with pytest.raises(ValueError, match="map-typed"):
        land_snapshot(df, dest, n_shards=2)
    assert not os.path.exists(dest)  # nothing landed
    # serialized maps shard fine
    ok = write_training_shards(
        df.withColumn("props", F.to_json("props")), dest, n_shards=2
    )
    assert ok.agg(F.sum("n_docs")).first()[0] == 1


def test_asof_join_deterministic_on_duplicate_right_timestamps(spark):
    """Two right rows at the same (key, time): the carried payload is
    the GREATEST payload struct — deterministic across runs and
    repartitionings, where a bare (time, side) sort carried whichever
    duplicate sorted last that run."""
    from vector_db_setup_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100.0)], "k long, t double"
    )
    right = spark.createDataFrame(
        [(1, 50.0, "a"), (1, 50.0, "z"), (1, 50.0, "m")],
        "k long, t double, v string",
    )
    for n_parts in (1, 3, 7):
        out = asof_join(
            left, right.repartition(n_parts), "k", "t", "t", ["v"]
        ).collect()
        assert len(out) == 1
        assert out[0]["asof_v"] == "z", (n_parts, out)


# ---- r13 review pass: ADVICE r12 findings ----


def test_snapshot_sink_never_flips_back_to_legacy_identity(
    spark, tmp_path
):
    """ADVICE r12 (medium): a table that ALREADY runs under the
    normalized identity but still retains pre-normalization commits
    must keep the derived id — flipping back to legacy would stop
    recognizing the next restart-replayed micro-batch (keyed
    ``derived:<batch>``) as a replay and double-land it. The most
    recent surviving commit's identity wins."""
    from vector_db_setup_spark.streaming.snapshot_sink import (
        _resolve_producer_identity,
        derive_producer_id,
        legacy_producer_id,
        snapshot_sink,
    )

    ck = str(tmp_path / "ck_flip") + "/"
    derived = derive_producer_id(ck)
    legacy = legacy_producer_id(ck)
    assert derived != legacy

    base = str(tmp_path / "t")
    # history: v1 under legacy (pre-normalization), v2 under derived
    # (post-upgrade) — both survive
    write_snapshot(
        _df(spark, [(1, "a", "x")]), base,
        idempotency_key=f"{legacy}:0",
    )
    append_snapshot(
        _df(spark, [(2, "b", "y")]), base,
        idempotency_key=f"{derived}:1",
    )
    assert (
        _resolve_producer_identity(spark, base, derived, legacy, None)
        == derived
    )
    # end-to-end: the sink's replay of batch 1 under the derived id is
    # an idempotent drop, not a double-land
    src = str(tmp_path / "src")
    _df(spark, [(2, "b", "y")]).write.parquet(src)
    stream = spark.readStream.schema(
        "id long, cat string, v string"
    ).parquet(src)
    # pre-seed the checkpoint-free restart: batch 0 of this stream
    # will carry key derived:0; land it manually first so the sink's
    # micro-batch is a replay
    append_snapshot(
        _df(spark, [(3, "c", "z")]), base,
        idempotency_key=f"{derived}:0",
    )
    q = snapshot_sink(stream, base, checkpoint=ck)
    q.awaitTermination()
    assert read_snapshot(spark, base).count() == 3  # no double-land

    # legacy-only history still adopts legacy (upgrade continuity)
    base2 = str(tmp_path / "t2")
    write_snapshot(
        _df(spark, [(1, "a", "x")]), base2,
        idempotency_key=f"{legacy}:0",
    )
    assert (
        _resolve_producer_identity(spark, base2, derived, legacy, None)
        == legacy
    )
    # empty/no table → derived
    assert (
        _resolve_producer_identity(
            spark, str(tmp_path / "missing"), derived, legacy, None
        )
        == derived
    )


def test_bloom_group_counts_refuses_reserved_names(spark):
    """ADVICE r12 (low): bloom_probe_group_counts lacked bloom_probe's
    reserved-name clash guard — group_col='_idx' silently grouped by
    the probe's word index and returned wrong counts."""
    import vector_db_setup_spark.operators.bloom as bloom
    from vector_db_setup_spark.operators.bloom import (
        bloom_build,
        bloom_probe_group_counts,
    )

    assert "bloom_probe_group_counts" in bloom.__all__
    words = bloom_build(
        spark.createDataFrame([("a",)], "item string"),
        "item", num_bits=1 << 12, k=3,
    )
    df = spark.createDataFrame(
        [("g", "a"), ("g", "b")], "_idx string, item string"
    )
    with pytest.raises(ValueError, match="_idx"):
        bloom_probe_group_counts(
            df, "item", "_idx", words, num_bits=1 << 12, k=3
        )
    with pytest.raises(ValueError, match="n_total"):
        bloom_probe_group_counts(
            df.withColumnRenamed("_idx", "n_total"),
            "item", "n_total", words, num_bits=1 << 12, k=3,
        )
    # a clean shape still computes exact counts
    out = bloom_probe_group_counts(
        df.withColumnRenamed("_idx", "grp"),
        "item", "grp", words, num_bits=1 << 12, k=3,
    ).collect()
    assert [(r["grp"], r["n_total"], r["n_hit"]) for r in out] == [
        ("g", 2, 1)
    ]


def test_asof_join_carries_map_payload(spark):
    """ADVICE r12 (low): a MapType payload column made the window
    orderBy fail analysis ('data type is not orderable'). Maps are now
    carried but excluded from the tie-break; orderable columns still
    break duplicate-(key,time) ties deterministically."""
    from vector_db_setup_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("k", 10), ("k", 5)], "k string, t long"
    )
    right = spark.createDataFrame(
        [("k", 7, "x", {"a": "1"}), ("k", 2, "y", {"b": "2"})],
        "k string, t long, v string, props map<string,string>",
    )
    out = {
        r["t"]: (r["asof_v"], r["asof_props"])
        for r in asof_join(
            left, right, "k", "t", "t", ["v", "props"]
        ).collect()
    }
    assert out[10] == ("x", {"a": "1"})
    assert out[5] == ("y", {"b": "2"})
    # deterministic tie-break on the orderable column still holds with
    # a map riding along: greatest v wins among duplicate timestamps
    right2 = spark.createDataFrame(
        [("k", 7, "a", {"m": "1"}), ("k", 7, "z", {"m": "2"})],
        "k string, t long, v string, props map<string,string>",
    )
    got = asof_join(
        left, right2, "k", "t", "t", ["v", "props"]
    ).filter(F.col("t") == 10).collect()[0]
    assert got["asof_v"] == "z" and got["asof_props"] == {"m": "2"}


# ---- r13 review pass: sketch / sqlfuncs / grouped / rollup_cascade /
# ---- skew / csv (VERDICT r12 item 6) ----


def test_sql_cosine_distance_null_on_zero_vector(spark):
    """r13 review: under ANSI mode the SQL cosine_distance UDF raised
    DIVIDE_BY_ZERO on a zero vector — one zero vector in the corpus
    crashed every SQL cosine query, while the DataFrame twin
    (functions/vector.cosine_similarity) returns NULL. Both surfaces
    now agree: NULL."""
    from vector_db_setup_spark.functions.sqlfuncs import (
        register_sql_vector_functions,
    )

    register_sql_vector_functions(spark)
    row = spark.sql(
        "SELECT cosine_distance(array(0.0D, 0.0D), array(1.0D, 2.0D)) AS d,"
        "       cosine_distance(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS same"
    ).collect()[0]
    assert row["d"] is None
    assert abs(row["same"]) < 1e-12


def test_grouped_mad_ignores_nulls_like_the_oracle(spark):
    """r13 review: NULL values fed NaN into np.median, so one NULL made
    the whole group's MAD NULL — DuckDB's mad (the documented oracle)
    ignores NULLs. Now: NULLs dropped, all-NULL group yields NULL, and
    out_col may not shadow the key."""
    from vector_db_setup_spark.operators.grouped import grouped_mad

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None)],
        "k string, v double",
    )
    got = {r["k"]: r["mad"] for r in grouped_mad(df, "k", "v").collect()}
    assert got == {"a": 1.0, "b": None}
    with pytest.raises(ValueError, match="collides"):
        grouped_mad(df, "k", "v", out_col="k")


def test_cascade_refuses_misaligned_windows(spark):
    """r13 review: a coarser window that is not an integer multiple of
    the finer bucket silently books a straddling bucket's whole count
    to the window containing its start. With finer_window passed the
    misalignment now raises; aligned cascades are unchanged and
    lossless vs direct aggregation."""
    from vector_db_setup_spark.operators.rollup_cascade import (
        _window_seconds,
        cascade,
        rollup_level,
    )

    assert _window_seconds("90 minutes") == 5400
    assert _window_seconds("1 day 6 hours") == 108000
    assert _window_seconds("2 moons") is None
    ev = spark.createDataFrame(
        [(1, "c", "2026-01-01 00:30:00", 10.0),
         (2, "c", "2026-01-01 01:30:00", 20.0),
         (3, "c", "2026-01-02 05:00:00", 5.0)],
        "event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    hourly = rollup_level(ev, "1 hour")
    with pytest.raises(ValueError, match="integer multiple"):
        cascade(hourly, "90 minutes", finer_window="1 hour")
    daily = cascade(hourly, "1 day", finer_window="1 hour").collect()
    got = {str(r["bucket"]): (r["n"], r["sum_value"]) for r in daily}
    assert got == {
        "2026-01-01 00:00:00": (2, 30.0),
        "2026-01-02 00:00:00": (1, 5.0),
    }


def test_salted_join_refuses_reserved_salt_column(spark):
    """r13 review: a caller-owned __salt column was silently
    overwritten, corrupting the join keys."""
    from vector_db_setup_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, 0)], "k long, __salt int")
    dim = spark.createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError, match="__salt"):
        salted_join(fact, dim, "k")
    with pytest.raises(ValueError, match="__salt"):
        salted_join(dim, fact, "k")


def test_read_count_min_sketch_refuses_corrupt_binaries():
    """r13 review: a corrupt/truncated binary unpacked garbage (or
    built a 0-row sketch whose probe would min() over nothing)."""
    import struct

    from vector_db_setup_spark.functions.sketch import (
        read_count_min_sketch,
    )

    with pytest.raises(ValueError, match="depth"):
        read_count_min_sketch(struct.pack(">iqii", 1, 0, 0, 16))
    with pytest.raises(ValueError, match="truncated"):
        read_count_min_sketch(struct.pack(">iqii", 1, 0, 2, 16))
    ok = struct.pack(">iqii", 1, 3, 1, 2) + struct.pack(">q", 0) + struct.pack(">2q", 1, 2)
    s = read_count_min_sketch(ok)
    assert (s.depth, s.width, s.table) == (1, 2, ((1, 2),))


def test_write_csv_honors_delimiter(spark, tmp_path):
    """r13 review: write_csv always wrote commas — a round-trip through
    a tab dialect silently changed the file format."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from vector_db_setup_spark.sources.csv import read_csv, write_csv

    df = spark.createDataFrame([(1, "a|b")], "id long, txt string")
    out = str(tmp_path / "csv")
    write_csv(df, out, delimiter="\t")
    schema = StructType(
        [StructField("id", LongType()), StructField("txt", StringType())]
    )
    back = read_csv(spark, out, schema, delimiter="\t").collect()
    assert [(r["id"], r["txt"]) for r in back] == [(1, "a|b")]


def test_reserved_working_columns_never_corrupt_user_data(
    spark, tmp_path
):
    """r13 review sweep over the remaining withColumn temp names
    (bloom_probe's clash class): operators either REFUSE a colliding
    caller column (range_join, batch_knn __rn, weak_labels,
    incremental_dedup_stream / decontamination gate contract columns)
    or pick a FRESH name so the caller's data rides through untouched
    (fast-CDC _hb/_hp, z-order __z)."""
    from vector_db_setup_spark.operators.knn import batch_knn_join
    from vector_db_setup_spark.operators.quality_model import weak_labels
    from vector_db_setup_spark.operators.temporal import range_join

    l = spark.createDataFrame([("k", 5, 0.0)], "k string, t long, __b double")
    r = spark.createDataFrame([("k", 3)], "k string, t long")
    with pytest.raises(ValueError, match="__b"):
        range_join(l, r, "k", "t", "t", 60)

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], 9)], "doc_id long, embedding array<double>, __rn long"
    )
    qdf = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="__rn"):
        batch_knn_join(qdf, corpus, k=1)

    docs = spark.createDataFrame([("hello world", 1.0)], "text string, _q double")
    with pytest.raises(ValueError, match="_q"):
        weak_labels(docs)

    from vector_db_setup_spark.streaming.events import (
        decontamination_gate_batch,
        incremental_dedup_stream,
    )

    src = str(tmp_path / "stream_src")
    spark.createDataFrame(
        [(1, "x", 0)], "doc_id long, text string, _batch int"
    ).write.parquet(src)
    bad_stream = spark.readStream.schema(
        "doc_id long, text string, _batch int"
    ).parquet(src)
    with pytest.raises(ValueError, match="_batch"):
        incremental_dedup_stream(
            bad_stream,
            spark.createDataFrame([(1, "x")], "doc_id long, text string"),
            str(tmp_path / "out"),
        )
    from vector_db_setup_spark.operators.bloom import bloom_build

    words = bloom_build(
        spark.createDataFrame([("a",)], "item string"), "item",
        num_bits=1 << 12, k=3,
    )
    with pytest.raises(ValueError, match="_clean"):
        decontamination_gate_batch(
            spark.createDataFrame(
                [(1, "x", True)], "doc_id long, text string, _clean boolean"
            ),
            0, words, str(tmp_path / "gate"), num_bits=1 << 12, k=3,
        )


def test_fast_cdc_carries_hash_named_user_columns(spark, tmp_path):
    """r13 review: a SOURCE column literally named _hb/_hp used to be
    replaced by the fast-CDC content hash in the 'changed' feed; the
    working names are now chosen fresh, so the user's column rides
    through with its real value."""
    base = str(tmp_path / "t")
    write_snapshot(
        spark.createDataFrame(
            [(1, "a", 100), (2, "b", 200)], "id long, _hb string, _hp long"
        ),
        base,
    )
    merge_snapshot(
        spark.createDataFrame([(2, "B", 222)], "id long, _hb string, _hp long"),
        base,
        key_col="id",
    )
    feed = snapshot_changes(
        spark, base, "id", 1, 2,
        columns=["_hb", "_hp"], carry_columns=["_hb", "_hp"],
        change_encoding="changed",
    ).collect()
    assert [(r["id"], r["_hb"], r["_hp"], r["status"]) for r in feed] == [
        (2, "B", 222, "changed")
    ]


def test_zorder_write_preserves_user_z_column(spark, tmp_path):
    """r13 review: write_zordered overwrote (then dropped) a caller's
    __z column; the working name is now chosen fresh."""
    from vector_db_setup_spark.plans.storage import write_zordered

    df = spark.createDataFrame(
        [(1, 2, "keep-me"), (3, 4, "me-too")],
        "a long, b long, __z string",
    )
    out = str(tmp_path / "z")
    write_zordered(df, out, "a", "b", n_files=1)
    back = sorted(
        (r["a"], r["__z"]) for r in spark.read.parquet(out).collect()
    )
    assert back == [(1, "keep-me"), (3, "me-too")]


def test_ivf_assign_refuses_existing_cluster_id(spark):
    """r13 review: the expression form silently overwrote an existing
    cluster_id column (the GEMM form crashed on a duplicate schema
    field); both now refuse loudly."""
    from vector_db_setup_spark.operators.ann import (
        ivf_assign,
        ivf_assign_gemm,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 7)],
        "vec_id long, embedding array<float>, cluster_id int",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    with pytest.raises(ValueError, match="cluster_id"):
        ivf_assign(emb, cents)
    with pytest.raises(ValueError, match="cluster_id"):
        ivf_assign_gemm(emb, cents)
    clean = emb.drop("cluster_id")
    with pytest.raises(ValueError, match="embedding"):
        ivf_assign(clean, cents, dist_col="embedding")
    got = ivf_assign(clean, cents).collect()[0]
    assert got["cluster_id"] == 0


def test_pq_adc_lut_nonfinite_falls_back_to_lit(spark):
    """ADVICE r13: a NaN/Inf in the query vector propagates into the
    precomputed LUT; repr() of that cell ('nanD') used to raise
    ParseException at expression-BUILD time. The LUT literal must carry
    the NaN and propagate it through the data instead."""
    import math

    import numpy as np

    from vector_db_setup_spark.operators.quantize import (
        pq_adc_distance_expr,
    )

    books = np.arange(2 * 2 * 2, dtype=np.float64).reshape(2, 2, 2)
    df = spark.createDataFrame([([0, 1],)], "pq_codes array<int>")
    bad_q = [float("nan"), 0.0, 1.0, 2.0]
    out = df.select(
        pq_adc_distance_expr(books, bad_q).alias("adc")
    ).collect()[0]["adc"]
    assert out is None or math.isnan(out)
    # a finite query computes a finite distance through the same literal
    good = df.select(
        pq_adc_distance_expr(books, [0.0, 1.0, 2.0, 3.0]).alias("adc")
    ).collect()[0]["adc"]
    assert good is not None and math.isfinite(good)


def test_max_cosine_bnorm_overflow_falls_back(spark):
    """ADVICE r13: finite benchmark elements can overflow the norm's
    sum-of-squares to inf, which a parsed SQL literal could not carry.
    The builder must carry it instead of raising ParseException."""
    from vector_db_setup_spark.operators.similarity import (
        max_cosine_against_literal,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    bench = [(7, [1e200, 1e200])]  # elements finite, norm inf
    rows = max_cosine_against_literal(df, bench).collect()
    assert len(rows) == 1  # built and executed; score degenerate (inf norm)


def test_semdedup_keepers_requires_centroids_or_assigned(spark):
    """ADVICE r13: centroids=None with no assigned frame used to die
    with len(None) three calls deep."""
    import pytest

    from vector_db_setup_spark.operators.semdedup import semdedup_keepers

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="centroids"):
        semdedup_keepers(df, None, tau=0.9)
