"""Round-8 snapshot-table increments: append commits (multi-dir
versions), per-file min/max stats + file-skipping reads, the CDC
change feed with its Bloom-maintenance consumer, and incremental IVF
index appends (assign-only-new-vectors with the head marker's
centroids, drift-metric recommendation, conflict re-assignment)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_db_setup_spark.sources.fs import LocalFS
from vector_db_setup_spark.sources.snapshot_table import (
    DATA_PREFIX,
    SnapshotConflictError,
    append_snapshot,
    committed_versions,
    compact_snapshot,
    current_version,
    gc_snapshots,
    read_snapshot,
    snapshot_changes,
    snapshot_diff,
    snapshot_info,
    upsert_snapshot,
    write_snapshot,
)


def _df(spark, lo, hi, parts=4):
    return (
        spark.range(lo, hi)
        .select("id", F.md5(F.col("id").cast("string")).alias("payload"))
        .repartition(parts)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------- append


def test_append_snapshot_multi_dir_versions(spark, tmp_path):
    """v2 = v1's dirs + one new dir: no byte of v1 rewrites, the pinned
    v1 read is untouched, and the head reads the union."""
    base = str(tmp_path / "t")
    v1 = write_snapshot(_df(spark, 0, 100), base)
    dirs_v1 = set(
        d for d in os.listdir(base) if d.startswith(DATA_PREFIX)
    )
    mtimes = {
        d: os.path.getmtime(f"{base}/{d}") for d in dirs_v1
    }
    v2 = append_snapshot(_df(spark, 100, 130), base, note="night batch")
    assert (v1, v2) == (1, 2)
    info = snapshot_info(spark, base, 2)
    assert isinstance(info["data"], list) and len(info["data"]) == 2
    assert info["rows"] == 130
    assert read_snapshot(spark, base, version=1).count() == 100  # pinned
    head = read_snapshot(spark, base)
    assert head.count() == 130
    assert _rows(head.select("id")) == [(i,) for i in range(130)]
    # v1's dir bytes untouched (same mtime — append never rewrites)
    for d, m in mtimes.items():
        assert os.path.getmtime(f"{base}/{d}") == m


def test_append_chain_compacts_to_one_dir(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 50), base)
    append_snapshot(_df(spark, 50, 80), base)
    append_snapshot(_df(spark, 80, 90), base)
    assert len(snapshot_info(spark, base, 3)["data"]) == 3
    v4 = compact_snapshot(spark, base, target_file_bytes=10**9)
    info = snapshot_info(spark, base, v4)
    assert isinstance(info["data"], str)  # absorbed into one dir
    assert _rows(read_snapshot(spark, base)) == _rows(
        read_snapshot(spark, base, version=3)
    )


def test_append_first_landing_and_schema_guard(spark, tmp_path):
    base = str(tmp_path / "t")
    v1 = append_snapshot(_df(spark, 0, 10), base)  # empty table: v1
    assert v1 == 1 and read_snapshot(spark, base).count() == 10
    with pytest.raises(ValueError, match="columns"):
        append_snapshot(spark.range(5), base)  # schema mismatch
    with pytest.raises(ValueError, match="partitioning"):
        append_snapshot(
            _df(spark, 10, 20), base, partition_by=["payload"]
        )
    # failed appends left no extra committed version and no leak into
    # the readable table
    assert committed_versions(spark, base) == [1]
    assert read_snapshot(spark, base).count() == 10


def test_append_expected_head_conflict(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 10), base)

    class RivalMidAppend(LocalFS):
        def __init__(self):
            self.fired = False

        def listdir(self, path):
            if path.endswith("_commits") and not self.fired:
                self.fired = True
                # rival lands v2 after our dir is written, before commit
                write_snapshot(_df(spark, 0, 99), base)
            return super().listdir(path)

    with pytest.raises(SnapshotConflictError):
        append_snapshot(
            _df(spark, 10, 20), base, fs=RivalMidAppend(), expected_head=1
        )
    # the abandoned append dir was reclaimed (both survivors referenced)
    dirs = [d for d in os.listdir(base) if d.startswith(DATA_PREFIX)]
    refs = set()
    for v in committed_versions(spark, base):
        d = snapshot_info(spark, base, v)["data"]
        refs.update(d if isinstance(d, list) else [d])
    assert set(dirs) == refs


def test_append_idempotency_key(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 10), base)
    v2 = append_snapshot(_df(spark, 10, 20), base, idempotency_key="b-1")
    replay = append_snapshot(_df(spark, 10, 20), base, idempotency_key="b-1")
    assert replay == v2
    assert read_snapshot(spark, base).count() == 20  # landed once


def test_gc_keeps_dirs_shared_with_append_head(spark, tmp_path):
    """GC of the base version must not delete dirs the append head
    still references (dir sharing through the marker's dir LIST)."""
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 40), base)
    append_snapshot(_df(spark, 40, 50), base)
    removed = gc_snapshots(spark, base, keep=1, orphan_min_age_s=10**9)
    assert removed == [1]
    assert read_snapshot(spark, base).count() == 50  # all dirs alive


# ------------------------------------------------------ file-skip stats


def test_file_skipping_stats_prune_files(spark, tmp_path):
    """A keyed read of a multi-file version touches a strict subset of
    files (marker min/max pruning) and returns exactly the full-scan
    filter's rows."""
    base = str(tmp_path / "t")
    df = (
        spark.range(1000)
        .select("id", (F.col("id") * 2).alias("val"))
        .repartitionByRange(8, "id")  # disjoint id ranges per file
    )
    write_snapshot(df, base, stats_cols=["id"])
    info = snapshot_info(spark, base, 1)
    assert info["stats"]["cols"] == ["id"]
    assert len(info["stats"]["files"]) >= 8
    full = read_snapshot(spark, base)
    pruned = read_snapshot(spark, base, key_between=("id", 100, 180))
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert _rows(pruned) == _rows(full.filter(F.col("id").between(100, 180)))


def test_key_between_without_stats_still_filters(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 100), base)  # no stats declared
    got = read_snapshot(spark, base, key_between=("id", 10, 12))
    assert _rows(got.select("id")) == [(10,), (11,), (12,)]


def test_key_between_empty_range_and_null_files(spark, tmp_path):
    base = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c")], "id long, s string"
    ).repartition(3)
    write_snapshot(df, base, stats_cols=["id"])
    # a range matching nothing returns an empty frame w/ full schema
    got = read_snapshot(spark, base, key_between=("id", 100, 200))
    assert got.count() == 0 and set(got.columns) == {"id", "s"}
    # null ids never match BETWEEN; non-null rows still found
    got2 = read_snapshot(spark, base, key_between=("id", 1, 2))
    assert sorted(r["s"] for r in got2.collect()) == ["a", "b"]


def test_append_merges_stats_and_prunes_across_dirs(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(
        spark.range(100).repartitionByRange(4, "id"),
        base,
        stats_cols=["id"],
    )
    append_snapshot(
        spark.range(100, 200).repartitionByRange(4, "id"),
        base,
        stats_cols=["id"],
    )
    info = snapshot_info(spark, base, 2)
    assert len(info["stats"]["files"]) >= 8  # both dirs covered
    pruned = read_snapshot(spark, base, key_between=("id", 150, 160))
    full = read_snapshot(spark, base)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert _rows(pruned) == [(i,) for i in range(150, 161)]
    # append WITHOUT stats drops the map (absent stats = full scan,
    # never wrong pruning)
    append_snapshot(spark.range(200, 210), base)
    assert "stats" not in snapshot_info(spark, base, 3)
    got = read_snapshot(spark, base, key_between=("id", 205, 206))
    assert _rows(got) == [(205,), (206,)]


def test_stats_pruning_on_partitioned_version(spark, tmp_path):
    """Pruned file reads under a hive layout keep the partition column
    (basePath anchoring)."""
    base = str(tmp_path / "t")
    df = spark.range(400).select(
        "id", (F.col("id") % 4).alias("bucket")
    ).repartitionByRange(8, "id")
    write_snapshot(df, base, partition_by=["bucket"], stats_cols=["id"])
    pruned = read_snapshot(spark, base, key_between=("id", 10, 20))
    assert set(pruned.columns) == {"id", "bucket"}
    full = read_snapshot(spark, base)
    assert _rows(pruned) == _rows(full.filter(F.col("id").between(10, 20)))
    assert len(pruned.inputFiles()) < len(full.inputFiles())


# ------------------------------------------------------------- CDC feed


def test_snapshot_changes_matches_batch_diff(spark, tmp_path):
    """Cumulative feed == batch snapshot_diff(v1, head): composing the
    per-version increments nets out to the end-to-end diff."""
    base = str(tmp_path / "t")
    write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, s string"
        ),
        base,
    )
    upsert_snapshot(
        spark.createDataFrame([(2, "B"), (4, "d")], "id long, s string"),
        base,
        key_col="id",
    )
    upsert_snapshot(
        spark.createDataFrame(
            [(3, "c", True), (5, "e", False)],
            "id long, s string, dead boolean",
        ),
        base,
        key_col="id",
        delete_col="dead",
    )
    feed = snapshot_changes(spark, base, "id", from_version=1)
    got = {
        (r["id"], r["version"]): r["status"] for r in feed.collect()
    }
    assert got == {
        (2, 2): "changed",
        (4, 2): "added",
        (3, 3): "removed",
        (5, 3): "added",
    }
    # compose increments: last status per key == batch diff's status
    last = {}
    for (kid, ver), st in sorted(got.items(), key=lambda kv: kv[0][1]):
        last[kid] = st
    batch = {
        r["id"]: r["status"]
        for r in snapshot_diff(spark, base, 1, 3, "id")
        .filter(F.col("status") != "unchanged")
        .collect()
    }
    assert last == batch
    # replay: same range, same rows (immutable versions)
    again = {
        (r["id"], r["version"]): r["status"]
        for r in snapshot_changes(spark, base, "id", 1).collect()
    }
    assert again == got


def test_snapshot_changes_empty_and_gc_guard(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(spark.createDataFrame([(1,)], "id long"), base)
    feed = snapshot_changes(spark, base, "id", 1, to_version=1)
    assert feed.count() == 0
    assert set(feed.columns) == {"id", "status", "version"}
    write_snapshot(spark.createDataFrame([(2,)], "id long"), base)
    write_snapshot(spark.createDataFrame([(3,)], "id long"), base)
    gc_snapshots(spark, base, keep=2, orphan_min_age_s=10**9)  # drops v1
    with pytest.raises(ValueError, match="not committed"):
        snapshot_changes(spark, base, "id", 1)
    # a range fully inside the keep window still works
    assert snapshot_changes(spark, base, "id", 2).count() == 2


def test_bloom_maintained_from_change_feed(spark, tmp_path):
    """The canonical consumer: a decontamination filter ingests only
    the `added` keys of each increment; the maintained filter screens
    identically to one rebuilt from scratch, and replay is a no-op."""
    from vector_db_setup_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
        bloom_update_from_changes,
    )

    base = str(tmp_path / "t")
    docs0 = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(50)], "id long, text string"
    )
    write_snapshot(docs0, base)
    words0 = bloom_build(
        read_snapshot(spark, base, version=1).select("text"),
        "text",
        num_bits=1 << 16,
        k=5,
    ).persist()
    words0.count()
    # two incremental landings
    upsert_snapshot(
        spark.createDataFrame(
            [(i, f"doc-{i}") for i in range(50, 70)], "id long, text string"
        ),
        base,
        key_col="id",
    )
    upsert_snapshot(
        spark.createDataFrame(
            [(i, f"doc-{i}") for i in range(70, 80)], "id long, text string"
        ),
        base,
        key_col="id",
    )
    # the screened column IS the feed key here (text), so the feed's
    # added keys are exactly what the filter must ingest
    from vector_db_setup_spark.operators.bloom import bloom_merge

    added_texts = (
        snapshot_changes(spark, base, "text", 1)
        .filter(F.col("status") == "added")
        .select("text")
    )
    maintained = bloom_merge(
        words0, bloom_build(added_texts, "text", num_bits=1 << 16, k=5)
    )
    rebuilt = bloom_build(
        read_snapshot(spark, base).select("text"),
        "text",
        num_bits=1 << 16,
        k=5,
    )
    assert _rows(maintained) == _rows(rebuilt)  # word tables identical
    # probe behavior: every current doc screens positive
    probes = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(80)] + [("never-seen",)],
        "text string",
    )
    hit = bloom_probe(
        probes, "text", maintained, num_bits=1 << 16, k=5
    )
    # no false negative among members (Bloom's hard guarantee)
    assert (
        hit.filter(
            (F.col("text") != "never-seen") & ~F.col("maybe_member")
        ).count()
        == 0
    )
    # replay idempotence: ingesting the same range again changes nothing
    replayed = bloom_merge(
        maintained,
        bloom_build(added_texts, "text", num_bits=1 << 16, k=5),
    )
    assert _rows(replayed) == _rows(maintained)
    words0.unpersist()


def test_bloom_update_from_changes_direct(spark, tmp_path):
    """bloom_update_from_changes on a key-col-screened table equals a
    from-scratch rebuild over the head's keys."""
    from vector_db_setup_spark.operators.bloom import (
        bloom_build,
        bloom_update_from_changes,
    )

    base = str(tmp_path / "t")
    write_snapshot(
        spark.createDataFrame([(f"k{i}",) for i in range(30)], "k string"),
        base,
    )
    words = bloom_build(
        read_snapshot(spark, base, version=1), "k", num_bits=1 << 14, k=4
    )
    upsert_snapshot(
        spark.createDataFrame(
            [(f"k{i}",) for i in range(30, 45)], "k string"
        ),
        base,
        key_col="k",
    )
    maintained = bloom_update_from_changes(
        spark, base, "k", words, from_version=1, num_bits=1 << 14, k=4
    )
    rebuilt = bloom_build(
        read_snapshot(spark, base), "k", num_bits=1 << 14, k=4
    )
    assert _rows(maintained) == _rows(rebuilt)


# ----------------------------------------------------------- IVF append


def _emb_df(spark, lo, hi, dim=8, shift=0.0, seed=7):
    rng = np.random.default_rng(seed + lo)
    rows = [
        (int(i), (rng.standard_normal(dim) + shift).tolist())
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_ivf_append_assigns_with_head_centroids(spark, tmp_path):
    from vector_db_setup_spark.operators.ann import ivf_assign
    from vector_db_setup_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
    )

    base = str(tmp_path / "ivf")
    v1 = build_ivf_index(_emb_df(spark, 0, 120), base, k=4)
    meta1 = snapshot_info(spark, base, v1)["meta"]
    batch = _emb_df(spark, 120, 150)
    v2 = append_to_ivf_index(batch, base)
    assert (v1, v2) == (1, 2)
    # appended rows carry EXACTLY the assignment the v1 centroids give
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in read_snapshot(spark, base, version=2)
        .filter(F.col("vec_id") >= 120)
        .select("vec_id", "cluster_id")
        .collect()
    }
    want = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign(batch, np.asarray(meta1["centroids"]))
        .select("vec_id", "cluster_id")
        .collect()
    }
    assert got == want
    meta2 = snapshot_info(spark, base, v2)["meta"]
    assert meta2["centroids"] == meta1["centroids"]  # geometry unchanged
    assert meta2["appended_batches"] == 1
    assert meta2["drift_ratio"] is not None
    assert isinstance(meta2["rebuild_recommended"], bool)


def test_ivf_pinned_search_survives_append(spark, tmp_path):
    from vector_db_setup_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        search_ivf_index,
    )
    from vector_db_setup_spark.operators.knn import knn_topk

    base = str(tmp_path / "ivf")
    v1 = build_ivf_index(_emb_df(spark, 0, 150), base, k=4)
    q = [0.25] * 8
    before = _rows(search_ivf_index(spark, base, q, topk=5, nprobe=4))
    append_to_ivf_index(_emb_df(spark, 150, 190), base)
    # pinned search: identical result through the append
    after_pinned = _rows(
        search_ivf_index(spark, base, q, topk=5, nprobe=4, version=v1)
    )
    assert after_pinned == before
    # head search at full probe == exact KNN over the whole union
    head = search_ivf_index(spark, base, q, topk=5, nprobe=4)
    exact = knn_topk(
        read_snapshot(spark, base).drop("cluster_id"), "embedding", q, k=5
    )
    assert _rows(head.select("vec_id", "distance")) == _rows(
        exact.select("vec_id", "distance")
    )


def test_ivf_append_partition_pruning_across_dirs(spark, tmp_path):
    """A probed search over an appended (multi-dir) version reads only
    the probed cluster partitions of BOTH dirs."""
    from vector_db_setup_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        search_ivf_index,
    )

    base = str(tmp_path / "ivf")
    build_ivf_index(_emb_df(spark, 0, 200), base, k=4)
    append_to_ivf_index(_emb_df(spark, 200, 260), base)
    probed = search_ivf_index(spark, base, [0.0] * 8, topk=3, nprobe=1)
    assert probed.count() == 3
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # the probe filter reaches BOTH dirs' scans as a partition filter
    # (filters push through the Union of the per-dir reads)
    assert plan.count("PartitionFilters: [") >= 2
    assert "cluster_id" in plan.split("PartitionFilters: [", 1)[1]


def test_ivf_append_drift_recommends_rebuild(spark, tmp_path):
    """A far-away batch (shifted distribution) must trip the drift
    recommendation; an in-distribution batch must not."""
    from vector_db_setup_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
    )

    base = str(tmp_path / "ivf")
    build_ivf_index(_emb_df(spark, 0, 150), base, k=4)
    append_to_ivf_index(_emb_df(spark, 150, 170), base)
    m = snapshot_info(spark, base, 2)["meta"]
    assert m["rebuild_recommended"] is False  # same distribution
    append_to_ivf_index(_emb_df(spark, 170, 190, shift=25.0), base)
    m2 = snapshot_info(spark, base, 3)["meta"]
    assert m2["drift_ratio"] > m["drift_ratio"]
    assert m2["rebuild_recommended"] is True


@pytest.mark.parametrize("op", ["append", "merge"])
def test_ivf_append_reassigns_on_concurrent_rebuild(spark, tmp_path, op):
    """A rebuild with NEW centroids landing mid-write must not let the
    old-centroid assignment commit — the append (or merge) conflicts
    on its pinned head and re-assigns against the new head's
    geometry."""
    from vector_db_setup_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        merge_into_ivf_index,
    )
    from vector_db_setup_spark.operators.ann import ivf_assign

    base = str(tmp_path / "ivf")
    build_ivf_index(_emb_df(spark, 0, 100), base, k=3)

    class RebuildMidWrite(LocalFS):
        """Lands the rival rebuild at the write's second marker
        listing: after it resolved v1's centroids, before its commit."""

        def __init__(self):
            self.listings = 0

        def listdir(self, path):
            if path.endswith("_commits"):
                self.listings += 1
                if self.listings == 2:
                    build_ivf_index(
                        _emb_df(spark, 0, 140, shift=3.0), base, k=3, seed=99
                    )
            return super().listdir(path)

    write = append_to_ivf_index if op == "append" else merge_into_ivf_index
    batch = _emb_df(spark, 500, 520)
    v = write(batch, base, fs=RebuildMidWrite())
    assert v == 3  # the write landed AFTER the rival rebuild's v2
    meta = snapshot_info(spark, base, 3)["meta"]
    rebuilt_meta = snapshot_info(spark, base, 2)["meta"]
    assert meta["centroids"] == rebuilt_meta["centroids"]  # new geometry
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in read_snapshot(spark, base, version=3)
        .filter(F.col("vec_id") >= 500)
        .select("vec_id", "cluster_id")
        .collect()
    }
    want = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign(batch, np.asarray(rebuilt_meta["centroids"]))
        .select("vec_id", "cluster_id")
        .collect()
    }
    assert got == want


def test_compact_ivf_index_preserves_meta_and_search(spark, tmp_path):
    from vector_db_setup_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        search_ivf_index,
    )

    base = str(tmp_path / "ivf")
    build_ivf_index(_emb_df(spark, 0, 120), base, k=4)
    append_to_ivf_index(_emb_df(spark, 120, 160), base)
    q = [0.5] * 8
    before = _rows(search_ivf_index(spark, base, q, topk=5, nprobe=4))
    v3 = compact_ivf_index(spark, base, target_file_bytes=10**9)
    info = snapshot_info(spark, base, v3)
    assert isinstance(info["data"], str)  # one dir again
    assert info["meta"]["kind"] == "ivf"
    after = _rows(search_ivf_index(spark, base, q, topk=5, nprobe=4))
    assert after == before


def test_generic_append_refused_by_ivf_append(spark, tmp_path):
    from vector_db_setup_spark.operators.ann_index import append_to_ivf_index

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 10), base)
    with pytest.raises(ValueError, match="not an IVF index"):
        append_to_ivf_index(_emb_df(spark, 0, 5), base)


# ----------------------------------------------- upsert cache semantics


def test_upsert_leaves_caller_cache_alone(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "id long, s string"), base
    )
    updates = spark.createDataFrame(
        [(2, "b")], "id long, s string"
    ).persist()
    updates.count()
    upsert_snapshot(updates, base, key_col="id")
    lvl = updates.storageLevel
    assert lvl.useMemory or lvl.useDisk  # caller's cache untouched
    updates.unpersist()


def test_upsert_checkpoint_mode(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "id long, s string"), base
    )
    updates = spark.createDataFrame([(2, "b"), (3, "c")], "id long, s string")
    v = upsert_snapshot(updates, base, key_col="id", checkpoint=True)
    assert read_snapshot(spark, base, version=v).count() == 3


# ------------------------------------------- clustered / z-order landing


def test_cluster_by_makes_stats_pruning_effective(spark, tmp_path):
    """The write-once/read-many trade: without clustering a shuffled
    table's per-file ranges all span ~everything and a keyed read
    prunes nothing; cluster_by yields near-disjoint ranges and the
    same read touches a small fraction of files."""
    base_u = str(tmp_path / "unclustered")
    base_c = str(tmp_path / "clustered")
    df = (
        spark.range(4000)
        .select("id", F.md5(F.col("id").cast("string")).alias("p"))
        .repartition(8)  # hash-shuffled: every file spans ~full range
    )
    write_snapshot(df, base_u, stats_cols=["id"])
    write_snapshot(
        df, base_c, stats_cols=["id"], cluster_by=["id"], cluster_files=8
    )
    narrow = ("id", 1000, 1099)
    pruned_u = read_snapshot(spark, base_u, key_between=narrow)
    pruned_c = read_snapshot(spark, base_c, key_between=narrow)
    assert _rows(pruned_u) == _rows(pruned_c)  # same answer either way
    n_u = len(pruned_u.inputFiles())
    n_c = len(pruned_c.inputFiles())
    assert n_u == 8  # nothing prunable on the shuffled layout
    assert n_c <= 2  # ~1/8 of the key space -> 1-2 files


def test_zordered_snapshot_prunes_on_both_keys(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        write_snapshot_zordered,
    )

    base = str(tmp_path / "z")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.md5(F.col("id").cast("string")).alias("p"),
    ).repartition(7)
    write_snapshot_zordered(df, base, "x", "y", n_files=16)
    info = snapshot_info(spark, base, 1)
    assert sorted(info["stats"]["cols"]) == ["x", "y"]
    full = read_snapshot(spark, base)
    n_all = len(full.inputFiles())
    for col in ("x", "y"):
        pruned = read_snapshot(spark, base, key_between=(col, 10, 17))
        assert len(pruned.inputFiles()) < n_all  # both keys prune
        assert _rows(pruned) == _rows(
            full.filter(F.col(col).between(10, 17))
        )
    # the clustering key is a layout artifact, not a data column
    assert "__z" not in full.columns


# ------------------------------------------ streaming exactly-once sink


def test_snapshot_batch_lander_exactly_once(spark, tmp_path):
    """The foreachBatch callable replayed with the SAME batch id lands
    once; distinct ids append; a different producer_id is a different
    key namespace."""
    from vector_db_setup_spark.streaming.snapshot_sink import (
        make_snapshot_batch_lander,
    )

    base = str(tmp_path / "t")
    land = make_snapshot_batch_lander(base, producer_id="ingest-a")
    b0 = _df(spark, 0, 30)
    v1 = land(b0, 0)
    assert land(b0, 0) == v1  # replay: same version, no new commit
    assert committed_versions(spark, base) == [1]
    v2 = land(_df(spark, 30, 40), 1)
    assert v2 == 2 and read_snapshot(spark, base).count() == 40
    assert land(spark.createDataFrame([], b0.schema), 2) is None  # empty
    assert committed_versions(spark, base) == [1, 2]
    # another producer's batch 1 is NOT this producer's batch 1
    land_b = make_snapshot_batch_lander(base, producer_id="ingest-b")
    v3 = land_b(_df(spark, 40, 45), 1)
    assert v3 == 3


def test_snapshot_sink_end_to_end_stream(spark, tmp_path):
    """Real stream drive: file-source events drain through the sink
    with availableNow; the snapshot head equals the batch read of the
    same fixture, and a checkpoint-preserving RESTART with no new data
    lands nothing new."""
    from tests.conftest import SF_SMOKE
    from vector_db_setup_spark.sources.registry import load_table
    from vector_db_setup_spark.streaming.events import stream_events
    from vector_db_setup_spark.streaming.snapshot_sink import snapshot_sink

    base = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    q1 = snapshot_sink(
        stream_events(spark, SF_SMOKE, max_files_per_trigger=1),
        base,
        ckpt,
        producer_id="events",
    )
    q1.awaitTermination(120)
    want = load_table(spark, SF_SMOKE, "events")
    got = read_snapshot(spark, base)
    assert got.count() == want.count()
    assert sorted(r["event_id"] for r in got.select("event_id").collect()) \
        == sorted(r["event_id"] for r in want.select("event_id").collect())
    head_before = current_version(spark, base)
    # restart from the same checkpoint: backlog already consumed
    q2 = snapshot_sink(
        stream_events(spark, SF_SMOKE, max_files_per_trigger=1),
        base,
        ckpt,
        producer_id="events",
    )
    q2.awaitTermination(120)
    assert current_version(spark, base) == head_before


def test_snapshot_sink_requires_checkpoint(spark, tmp_path):
    from tests.conftest import SF_SMOKE
    from vector_db_setup_spark.streaming.events import stream_events
    from vector_db_setup_spark.streaming.snapshot_sink import snapshot_sink

    with pytest.raises(ValueError, match="checkpoint"):
        snapshot_sink(
            stream_events(spark, SF_SMOKE), str(tmp_path / "t"), ""
        )


def test_compaction_inherits_stats_and_retightens(spark, tmp_path):
    """An append chain accumulates cross-dir key overlap; compaction
    must re-collect the same stats cols and re-cluster so the
    compacted head prunes at least as well — a keyed table never
    loses file skipping by being compacted."""
    base = str(tmp_path / "t")
    write_snapshot(
        spark.range(0, 1000).repartitionByRange(4, "id"),
        base,
        stats_cols=["id"],
        cluster_by=["id"],
        cluster_files=4,
    )
    append_snapshot(
        spark.range(1000, 2000).repartition(4),  # unclustered batch
        base,
        stats_cols=["id"],
    )
    v3 = compact_snapshot(spark, base, target_file_bytes=1, min_files=8)
    info = snapshot_info(spark, base, v3)
    assert info["stats"]["cols"] == ["id"]  # inherited + recomputed
    pruned = read_snapshot(spark, base, key_between=("id", 100, 199))
    full = read_snapshot(spark, base)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert _rows(pruned) == [(i,) for i in range(100, 200)]


# ------------------------------------------------- merge-on-read deletes


def test_delete_from_snapshot_merge_on_read(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 100), base)
    dirs_before = sorted(
        d for d in os.listdir(base) if d.startswith(DATA_PREFIX)
    )
    keys = spark.createDataFrame([(i,) for i in range(10, 20)], "id long")
    v2 = delete_from_snapshot(keys, base, "id")
    assert v2 == 2
    head = read_snapshot(spark, base)
    assert head.count() == 90
    assert not {r["id"] for r in head.collect()} & set(range(10, 20))
    # pinned v1 untouched; marker rows is the VISIBLE count
    assert read_snapshot(spark, base, version=1).count() == 100
    assert snapshot_info(spark, base, 2)["rows"] == 90
    # data dirs unchanged — only one tiny tombstone dir was added
    dirs_after = sorted(
        d for d in os.listdir(base) if d.startswith(DATA_PREFIX)
    )
    assert len(dirs_after) == len(dirs_before) + 1
    assert snapshot_info(spark, base, 2)["data"] == \
        snapshot_info(spark, base, 1)["data"]


def test_delete_stacks_and_compaction_materializes(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        _delete_entries,
        delete_from_snapshot,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 50), base)
    delete_from_snapshot(
        spark.createDataFrame([(1,), (2,)], "id long"), base, "id"
    )
    delete_from_snapshot(
        spark.createDataFrame([(3,), (999,)], "id long"), base, "id"
    )  # 999 absent: deletes zero rows, still commits
    info = snapshot_info(spark, base, 3)
    assert len(_delete_entries(info)) == 2
    assert info["rows"] == 47
    assert read_snapshot(spark, base).count() == 47
    v4 = compact_snapshot(spark, base, target_file_bytes=10**9)
    info4 = snapshot_info(spark, base, v4)
    assert _delete_entries(info4) == []  # stack cleared
    assert read_snapshot(spark, base).count() == 47
    got = {r["id"] for r in read_snapshot(spark, base).select("id").collect()}
    assert got == set(range(50)) - {1, 2, 3}


def test_delete_then_append_guard_and_upsert_reinsert(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 30), base)
    delete_from_snapshot(
        spark.createDataFrame([(5,)], "id long"), base, "id"
    )
    # appending fresh keys is fine, and the tombstone keeps applying
    append_snapshot(_df(spark, 30, 40), base)
    head = read_snapshot(spark, base)
    assert head.count() == 39 and 5 not in {
        r["id"] for r in head.select("id").collect()
    }
    # appending the deleted key is REFUSED loudly (not silently hidden)
    with pytest.raises(ValueError, match="tombstoned"):
        append_snapshot(_df(spark, 5, 6), base)
    # upsert re-inserts it (rewrite clears the stack for its version)
    upsert_snapshot(
        spark.createDataFrame(
            [(5, "back")], "id long, payload string"
        ),
        base,
        key_col="id",
    )
    head2 = read_snapshot(spark, base)
    assert head2.count() == 40
    assert head2.filter("id = 5").first()["payload"] == "back"


def test_delete_composes_with_key_between_and_stats(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
    )

    base = str(tmp_path / "t")
    write_snapshot(
        spark.range(400),
        base,
        stats_cols=["id"],
        cluster_by=["id"],
        cluster_files=8,
    )
    delete_from_snapshot(
        spark.createDataFrame([(110,), (120,)], "id long"), base, "id"
    )
    pruned = read_snapshot(spark, base, key_between=("id", 100, 149))
    assert len(pruned.inputFiles()) < 8  # stats pruning still applies
    got = sorted(r["id"] for r in pruned.collect())
    assert got == [i for i in range(100, 150) if i not in (110, 120)]


def test_delete_gc_protects_shared_tombstones(spark, tmp_path):
    """A tombstone dir referenced by surviving markers must outlive the
    GC of the version that introduced it."""
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 30), base)                       # v1
    delete_from_snapshot(
        spark.createDataFrame([(7,)], "id long"), base, "id"
    )                                                             # v2
    append_snapshot(_df(spark, 30, 35), base)                     # v3
    removed = gc_snapshots(spark, base, keep=1, orphan_min_age_s=10**9)
    assert removed == [1, 2]
    head = read_snapshot(spark, base)  # v3 still reads its tombstone
    assert head.count() == 34
    assert 7 not in {r["id"] for r in head.select("id").collect()}


def test_delete_idempotency_and_expected_head(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 20), base)
    k = spark.createDataFrame([(3,)], "id long")
    v2 = delete_from_snapshot(k, base, "id", idempotency_key="del-1")
    assert delete_from_snapshot(
        k, base, "id", idempotency_key="del-1"
    ) == v2  # replay short-circuits
    assert committed_versions(spark, base) == [1, 2]
    with pytest.raises(SnapshotConflictError):
        delete_from_snapshot(k, base, "id", expected_head=1)
    with pytest.raises(FileNotFoundError):
        delete_from_snapshot(k, str(tmp_path / "empty"), "id")


def test_delete_survives_rollback(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
        rollback_snapshot,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 20), base)                       # v1
    delete_from_snapshot(
        spark.createDataFrame([(1,)], "id long"), base, "id"
    )                                                             # v2
    write_snapshot(_df(spark, 0, 5), base)                        # v3
    v4 = rollback_snapshot(spark, base, 2)  # restore the deleted view
    assert read_snapshot(spark, base, version=v4).count() == 19


def test_cdc_feed_sees_tombstone_deletes(spark, tmp_path):
    """snapshot_changes attributes merge-on-read deletes as `removed`
    at the delete commit's version (diff reads through the tombstone
    stack, no special-casing)."""
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
    )

    base = str(tmp_path / "t")
    write_snapshot(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, s string"
        ),
        base,
    )
    delete_from_snapshot(
        spark.createDataFrame([(2,), (7,)], "id long"), base, "id"
    )
    got = {
        (r["id"], r["version"]): r["status"]
        for r in snapshot_changes(spark, base, "id", 1).collect()
    }
    assert got == {(2, 2): "removed", (7, 2): "removed"}


def test_versioned_search_metric_routing(spark, tmp_path):
    """Full-probe cosine/dot searches over the versioned index equal
    exact knn_topk at the same metric (the L2-only routing gap closed:
    probes AND final ranking follow the metric)."""
    from vector_db_setup_spark.operators.ann_index import (
        build_ivf_index,
        search_ivf_index,
    )
    from vector_db_setup_spark.operators.knn import knn_topk

    base = str(tmp_path / "ivf")
    emb = _emb_df(spark, 0, 150)
    build_ivf_index(emb, base, k=4)
    q = [0.3] * 8
    for metric in ("l2", "cosine", "dot"):
        got = _rows(
            search_ivf_index(
                spark, base, q, topk=5, nprobe=4, metric=metric
            ).select("vec_id", "distance")
        )
        want = _rows(
            knn_topk(emb, "embedding", q, k=5, metric=metric).select(
                "vec_id", "distance"
            )
        )
        assert got == want, metric
    with pytest.raises(ValueError, match="unknown metric"):
        search_ivf_index(spark, base, q, metric="hamming")


def test_versioned_batch_search_pinned(spark, tmp_path):
    """Batch search over a pinned version: full-probe equals per-query
    exact KNN, and a rebuild mid-flight is invisible to the pinned
    scan."""
    from vector_db_setup_spark.operators.ann_index import (
        build_ivf_index,
        search_ivf_index_batch,
    )
    from vector_db_setup_spark.operators.knn import knn_topk

    base = str(tmp_path / "ivf")
    emb = _emb_df(spark, 0, 120)
    v1 = build_ivf_index(emb, base, k=4)
    queries = spark.createDataFrame(
        [(i, [0.1 * i] * 8) for i in range(5)],
        "query_id long, embedding array<double>",
    )
    batch = search_ivf_index_batch(
        spark, base, queries, topk=3, nprobe=4, version=v1
    )
    got = {
        (r["query_id"], r["vec_id"]): round(r["distance"], 6)
        for r in batch.collect()
    }
    want = {}
    for qrow in queries.collect():
        for r in knn_topk(
            emb, "embedding", qrow["embedding"], k=3
        ).collect():
            want[(qrow["query_id"], r["vec_id"])] = round(r["distance"], 6)
    assert got == want
    # rebuild lands v2; the SAME pinned call still answers from v1
    build_ivf_index(_emb_df(spark, 0, 200, shift=5.0), base, k=4, seed=9)
    again = {
        (r["query_id"], r["vec_id"]): round(r["distance"], 6)
        for r in search_ivf_index_batch(
            spark, base, queries, topk=3, nprobe=4, version=v1
        ).collect()
    }
    assert again == got


def test_history_and_timestamp_travel(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
        snapshot_history,
        version_as_of,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 20), base, note="initial")
    t1 = snapshot_info(spark, base, 1)["created_utc"]
    append_snapshot(_df(spark, 20, 30), base, note="batch")
    delete_from_snapshot(
        spark.createDataFrame([(0,)], "id long"), base, "id"
    )
    h = {r["version"]: r for r in snapshot_history(spark, base).collect()}
    assert set(h) == {1, 2, 3}
    assert h[1]["note"] == "initial" and h[1]["n_data_dirs"] == 1
    assert h[2]["n_data_dirs"] == 2 and h[2]["rows"] == 30
    assert h[3]["n_delete_entries"] == 1 and h[3]["rows"] == 29
    assert [h[v]["op"] for v in (1, 2, 3)] == [
        "write",
        "append",
        "delete",
    ]
    assert all(
        h[v]["created_utc"] <= h[v + 1]["created_utc"] for v in (1, 2)
    )
    # timestamp travel: as-of v1's commit instant resolves v1
    assert version_as_of(spark, base, t1) == 1
    assert version_as_of(spark, base, t1 + 10**6) == 3
    with pytest.raises(FileNotFoundError):
        version_as_of(spark, base, t1 - 10**6)
    assert read_snapshot(
        spark, base, version=version_as_of(spark, base, t1)
    ).count() == 20


def test_register_snapshot_view_sql_surface(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
        register_snapshot_view,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 50), base)
    v = register_snapshot_view(spark, base, "docs_v")
    assert v == 1
    assert spark.sql("SELECT count(*) n FROM docs_v").first()["n"] == 50
    # the view is PINNED: later commits are invisible until re-register
    delete_from_snapshot(
        spark.createDataFrame([(1,)], "id long"), base, "id"
    )
    assert spark.sql("SELECT count(*) n FROM docs_v").first()["n"] == 50
    v2 = register_snapshot_view(spark, base, "docs_v")
    assert v2 == 2
    assert spark.sql("SELECT count(*) n FROM docs_v").first()["n"] == 49
    with pytest.raises(ValueError, match="ONE of"):
        register_snapshot_view(spark, base, "x", version=1, as_of=0.0)
    spark.catalog.dropTempView("docs_v")


def test_r8_features_through_hadoop_fs(spark, tmp_path):
    """Append, stats/key_between pruning, delete tombstones, CDC and
    history through the Hadoop FileSystem API on file:// — the code
    path an HDFS/S3A deployment runs for the round's new features
    (marker lists, stats maps and tombstone dirs all resolve through
    fs.read_file/listdir/create_new like the base protocol)."""
    from vector_db_setup_spark.sources.fs import HadoopFS
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
        snapshot_history,
    )

    base = f"file://{tmp_path}/t"
    fs = HadoopFS(spark, base)
    write_snapshot(
        spark.range(100),
        base,
        fs=fs,
        stats_cols=["id"],
        cluster_by=["id"],
        cluster_files=4,
    )
    append_snapshot(
        spark.range(100, 200).repartitionByRange(4, "id"),
        base,
        fs=fs,
        stats_cols=["id"],
    )
    assert read_snapshot(spark, base, fs=fs).count() == 200
    pruned = read_snapshot(
        spark, base, fs=fs, key_between=("id", 10, 20)
    )
    full = read_snapshot(spark, base, fs=fs)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert pruned.count() == 11
    delete_from_snapshot(
        spark.createDataFrame([(10,)], "id long"), base, "id", fs=fs
    )
    assert read_snapshot(spark, base, fs=fs).count() == 199
    feed = snapshot_changes(spark, base, "id", 1, fs=fs)
    got = {
        (r["id"], r["version"]): r["status"] for r in feed.collect()
    }
    assert got[(10, 3)] == "removed" and got[(150, 2)] == "added"
    hist = snapshot_history(spark, base, fs=fs)
    assert hist.count() == 3
    gc_snapshots(spark, base, keep=2, fs=fs, orphan_min_age_s=0)
    assert read_snapshot(spark, base, fs=fs).count() == 199


def test_delete_vectors_from_versioned_index(spark, tmp_path):
    """Tombstoning vec_ids on an index table composes: the delete
    commit carries the IVF meta (searches still resolve), and probed
    searches exclude the deleted vectors merge-on-read."""
    from vector_db_setup_spark.operators.ann_index import (
        build_ivf_index,
        search_ivf_index,
    )
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
    )

    base = str(tmp_path / "ivf")
    build_ivf_index(_emb_df(spark, 0, 120), base, k=4)
    q = [0.2] * 8
    before = search_ivf_index(spark, base, q, topk=3, nprobe=4).collect()
    victim = before[0]["vec_id"]
    delete_from_snapshot(
        spark.createDataFrame([(int(victim),)], "vec_id long"),
        base,
        "vec_id",
    )
    after = search_ivf_index(spark, base, q, topk=3, nprobe=4).collect()
    assert victim not in {r["vec_id"] for r in after}
    # the runner-up moved up; the rest of the ranking is preserved
    assert [r["vec_id"] for r in after][:2] == [
        r["vec_id"] for r in before
    ][1:3]


def test_true_thread_contention_on_commits(spark, tmp_path):
    """Real concurrency (not injected): 4 threads x 3 commits race the
    exclusive marker create; every commit must land under a DISTINCT
    version, all 12 versions readable, no data dir leaked."""
    import threading

    base = str(tmp_path / "t")
    results: list[int] = []
    errors: list[Exception] = []
    lock = threading.Lock()

    def writer(tid: int) -> None:
        try:
            for j in range(3):
                v = write_snapshot(
                    _df(spark, tid * 100, tid * 100 + 10 + j),
                    base,
                    note=f"t{tid}-{j}",
                    retries=20,
                )
                with lock:
                    results.append(v)
        except Exception as e:  # pragma: no cover - failure reporting
            with lock:
                errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sorted(results) == list(range(1, 13))  # 12 distinct versions
    assert committed_versions(spark, base) == list(range(1, 13))
    for v in range(1, 13):
        assert read_snapshot(spark, base, version=v).count() >= 10
    # every surviving dir is referenced by exactly the markers
    refs = set()
    for v in range(1, 13):
        d = snapshot_info(spark, base, v)["data"]
        refs.update(d if isinstance(d, list) else [d])
    dirs = {d for d in os.listdir(base) if d.startswith(DATA_PREFIX)}
    assert dirs == refs  # losers' dirs were re-committed, none leaked


def test_compaction_preserves_hive_partitioning(spark, tmp_path):
    """Compacting a hive-partitioned table must keep the layout (the
    marker records partition_by; silently flattening would break
    partition pruning for every later reader)."""
    base = str(tmp_path / "t")
    df = spark.range(200).select(
        "id", (F.col("id") % 4).alias("bucket")
    )
    write_snapshot(df, base, partition_by=["bucket"])
    append_snapshot(
        spark.range(200, 260).select(
            "id", (F.col("id") % 4).alias("bucket")
        ),
        base,
        partition_by=["bucket"],
    )
    v3 = compact_snapshot(spark, base, target_file_bytes=10**9)
    info = snapshot_info(spark, base, v3)
    assert info.get("partition_by") == ["bucket"]
    # the compacted dir is hive-laid-out on disk and the probe filter
    # reaches the scan as a partition filter
    sub = sorted(os.listdir(f"{base}/{info['data']}"))
    assert [d for d in sub if d.startswith("bucket=")] == [
        f"bucket={i}" for i in range(4)
    ]
    got = read_snapshot(spark, base).filter(F.col("bucket") == 1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan
    assert read_snapshot(spark, base).count() == 260


# ------------------------------------------------- r8 review hardening


def test_stats_keys_survive_uri_encoded_partition_values(spark, tmp_path):
    """input_file_name() yields percent-ENCODED URIs; the marker must
    store the on-disk relative path or a keyed read of a partition
    value containing a space/percent fails with Path-does-not-exist
    where the unkeyed read succeeds."""
    base = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a b" if i % 2 else "c%d") for i in range(40)],
        "id long, cat string",
    )
    write_snapshot(df, base, partition_by=["cat"], stats_cols=["id"])
    got = read_snapshot(spark, base, key_between=("id", 5, 15))
    assert _rows(got) == _rows(df.filter(F.col("id").between(5, 15)))


def test_stats_pruning_incomparable_bound_keeps_file(spark, tmp_path):
    """A bound whose jsonable form is a different Python type than the
    stored stat (Decimal -> str vs int stats) must NOT crash the read:
    pruning is an optimization, the row-level BETWEEN decides."""
    from decimal import Decimal

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 100), base, stats_cols=["id"])
    got = read_snapshot(
        spark, base, key_between=("id", Decimal("10"), Decimal("20"))
    )
    assert sorted(r["id"] for r in got.collect()) == list(range(10, 21))


def test_snapshot_changes_reversed_range_raises(spark, tmp_path):
    """to_version < from_version is a corrupted consumer cursor, not an
    empty feed — silence here makes a CDC consumer skip versions."""
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 10), base)
    append_snapshot(_df(spark, 10, 20), base)
    append_snapshot(_df(spark, 20, 30), base)
    with pytest.raises(ValueError, match="precedes"):
        snapshot_changes(spark, base, "id", from_version=3, to_version=1)


def test_compact_sizes_output_by_live_rows(spark, tmp_path):
    """Compacting a mostly-deleted table must size output files from
    the rows that SURVIVE the tombstone stack, not from on-disk bytes
    — else a 90%-deleted table lands ~10x too many tiny files."""
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 4000, parts=8), base)
    delete_from_snapshot(
        spark.range(0, 3600).select("id"), base, "id"
    )
    raw_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fl in os.walk(base)
        for f in fl
        if f.endswith(".parquet")
    )
    # target sized so the RAW estimate asks for >= 4 files while the
    # live 10% fits in one
    v = compact_snapshot(spark, base, target_file_bytes=raw_bytes // 4)
    from vector_db_setup_spark.sources.snapshot_table import _data_names

    info = snapshot_info(spark, base, v)
    dirs = _data_names(info)
    n_files = sum(
        1
        for d in dirs
        for _, _, fl in os.walk(f"{base}/{d}")
        for f in fl
        if f.endswith(".parquet")
    )
    assert n_files == 1, f"expected 1 compacted file, got {n_files}"
    got = read_snapshot(spark, base, version=v)
    assert sorted(r["id"] for r in got.collect()) == list(range(3600, 4000))


def test_append_refused_on_any_of_stacked_tombstones(spark, tmp_path):
    """The fused one-job-per-key-column tombstone probe must still
    refuse a batch hitting ONLY the second entry of a delete stack."""
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_from_snapshot,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 100), base)
    delete_from_snapshot(spark.range(0, 5).select("id"), base, "id")
    delete_from_snapshot(spark.range(50, 55).select("id"), base, "id")
    with pytest.raises(ValueError, match="tombstoned"):
        append_snapshot(_df(spark, 52, 60), base)  # hits 2nd entry only
    # clean batch still lands, and both tombstones keep applying
    v = append_snapshot(_df(spark, 100, 110), base)
    got = read_snapshot(spark, base, version=v)
    ids = sorted(r["id"] for r in got.collect())
    assert ids == [i for i in range(110) if not (0 <= i < 5 or 50 <= i < 55)]
