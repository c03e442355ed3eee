"""Pointer-committed snapshot table (sources/snapshot_table.py): the
commit protocol's safety properties — writer-unique data dirs (no
shared-directory write race exists by construction), invisibility of
uncommitted data, no-window compaction under a pinned concurrent
reader, marker-race retry without rewriting data, exactly-once
idempotency keys, GC ordering under refused deletes — plus the same
protocol through the Hadoop FileSystem API."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from vector_db_setup_spark.sources.fs import HadoopFS, LocalFS
from vector_db_setup_spark.sources.snapshot_table import (
    DATA_PREFIX,
    committed_versions,
    compact_snapshot,
    current_version,
    gc_snapshots,
    read_snapshot,
    snapshot_info,
    write_snapshot,
)


def _df(spark, n=500, parts=7):
    return spark.range(n).select(
        "id", F.md5(F.col("id").cast("string")).alias("payload")
    ).repartition(parts)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _data_dirs(base):
    return sorted(
        d for d in os.listdir(base) if d.startswith(DATA_PREFIX)
    )


def test_write_read_roundtrip_and_versioning(spark, tmp_path):
    base = str(tmp_path / "t")
    v1 = write_snapshot(_df(spark, 100), base, note="first")
    assert v1 == 1 and current_version(spark, base) == 1
    v2 = write_snapshot(_df(spark, 200), base)
    assert v2 == 2 and committed_versions(spark, base) == [1, 2]
    assert read_snapshot(spark, base).count() == 200  # newest
    assert read_snapshot(spark, base, version=1).count() == 100  # time travel
    info = snapshot_info(spark, base, 1)
    assert info["rows"] == 100 and info["note"] == "first"
    assert info["data"] in _data_dirs(base)


def test_uncommitted_dir_is_invisible(spark, tmp_path):
    """A writer that died before its marker leaves an orphan data dir:
    readers must not see it, an uncommitted version number must
    refuse, and the next commit proceeds normally (unique dir names
    mean orphans never collide with anyone)."""
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 50), base)
    # simulate a crashed writer: full data dir, no marker
    _df(spark, 999).write.parquet(f"{base}/{DATA_PREFIX}deadbeef")
    assert committed_versions(spark, base) == [1]
    assert read_snapshot(spark, base).count() == 50
    with pytest.raises(FileNotFoundError, match="not committed"):
        read_snapshot(spark, base, version=2)
    v = write_snapshot(_df(spark, 60), base)
    assert v == 2
    assert read_snapshot(spark, base).count() == 60
    assert f"{DATA_PREFIX}deadbeef" in _data_dirs(base)  # awaits GC


def test_compaction_has_no_window_for_pinned_reader(spark, tmp_path):
    """The property the directory-swap paths cannot give: a reader
    resolved BEFORE compaction reads its pinned version completely and
    correctly WHILE and AFTER the new compacted version lands."""
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 1000, parts=23), base)
    reader = read_snapshot(spark, base)  # pinned to v1's data dir
    before = _rows(reader)
    v2 = compact_snapshot(spark, base, target_file_bytes=10**9)
    assert v2 == 2
    new_dir = snapshot_info(spark, base, 2)["data"]
    assert len(glob.glob(f"{base}/{new_dir}/*.parquet")) == 1  # compacted
    assert _rows(reader) == before
    assert _rows(read_snapshot(spark, base)) == before  # same data, new head
    assert snapshot_info(spark, base, 2)["note"] == "compacted v1"


def test_marker_race_recommits_same_data_without_rewrite(spark, tmp_path):
    """Optimistic concurrency: steal version 2's marker before the
    writer commits — the retry must commit the writer's ALREADY
    WRITTEN data dir as version 3 (exactly one data dir written by
    this writer; zero rewrites)."""
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 10), base)

    class RacingFS(LocalFS):
        def __init__(self):
            self.stole = False

        def create_new(self, path, data=b""):
            if not self.stole and path.endswith("v00000002"):
                self.stole = True
                super().create_new(
                    path, b'{"version": 2, "rows": 0, "data": "d-rival"}'
                )
            super().create_new(path, data)

    dirs_before = set(_data_dirs(base))
    v = write_snapshot(_df(spark, 20), base, fs=RacingFS())
    assert v == 3
    assert committed_versions(spark, base) == [1, 2, 3]
    # the loser wrote exactly ONE new data dir and committed THAT dir
    new_dirs = set(_data_dirs(base)) - dirs_before
    assert len(new_dirs) == 1
    assert snapshot_info(spark, base, 3)["data"] in new_dirs
    assert read_snapshot(spark, base).count() == 20


def test_commit_race_exhaustion_raises(spark, tmp_path):
    base = str(tmp_path / "t")

    class AlwaysLosesFS(LocalFS):
        def create_new(self, path, data=b""):
            super().create_new(path, b'{"data": "d-rival"}')
            raise FileExistsError(path)

    with pytest.raises(RuntimeError, match="lost the commit race"):
        write_snapshot(_df(spark, 10), base, fs=AlwaysLosesFS(), retries=1)


def test_gc_keeps_newest_reclaims_old_and_aged_orphans(spark, tmp_path):
    base = str(tmp_path / "t")
    for n in (10, 20, 30):
        write_snapshot(_df(spark, n), base)
    _df(spark, 5).write.parquet(f"{base}/{DATA_PREFIX}orphan")
    # default grace refuses young orphans (could be an in-flight writer)
    assert gc_snapshots(spark, base, keep=2) == [1]
    assert f"{DATA_PREFIX}orphan" in _data_dirs(base)
    gc_snapshots(spark, base, keep=2, orphan_min_age_s=0)
    assert f"{DATA_PREFIX}orphan" not in _data_dirs(base)
    assert committed_versions(spark, base) == [2, 3]
    # exactly the two surviving versions' data dirs remain
    assert len(_data_dirs(base)) == 2
    assert read_snapshot(spark, base).count() == 30
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, base, version=1)


def test_gc_refused_marker_delete_leaves_version_intact(spark, tmp_path):
    """A refused marker delete must leave BOTH marker and data — never
    a committed version with missing files."""
    base = str(tmp_path / "t")
    for n in (10, 20, 30):
        write_snapshot(_df(spark, n), base)

    class RefusesMarkerDeleteFS(LocalFS):
        def delete(self, path, ignore_errors=False):
            if "_commits" in path:
                raise OSError(f"store refused delete of {path}")
            super().delete(path, ignore_errors=ignore_errors)

    removed = gc_snapshots(
        spark, base, keep=2, fs=RefusesMarkerDeleteFS(), orphan_min_age_s=0
    )
    assert removed == []  # nothing reclaimed, nothing half-deleted
    assert committed_versions(spark, base) == [1, 2, 3]
    assert read_snapshot(spark, base, version=1).count() == 10  # fully intact


def test_idempotency_key_lands_exactly_once(spark, tmp_path):
    """Replayable producers (streaming foreachBatch) pass their batch
    id: the replay returns the ORIGINAL version and writes nothing."""
    base = str(tmp_path / "t")
    v1 = write_snapshot(_df(spark, 100), base, idempotency_key="batch-7")
    files_before = sorted(glob.glob(f"{base}/{DATA_PREFIX}*/*.parquet"))
    v2 = write_snapshot(_df(spark, 999), base, idempotency_key="batch-7")
    assert v2 == v1
    assert sorted(glob.glob(f"{base}/{DATA_PREFIX}*/*.parquet")) == files_before
    assert read_snapshot(spark, base).count() == 100  # replay landed 0 rows
    v3 = write_snapshot(_df(spark, 50), base, idempotency_key="batch-8")
    assert v3 == v1 + 1
    assert snapshot_info(spark, base, v3)["idempotency_key"] == "batch-8"


def test_concurrent_same_key_replicas_land_once(spark, tmp_path):
    """The duplicate-producer interleave: replica B commits the key
    between A's pre-check and A's marker create. A must LOSE the
    marker race (allocation depends only on committed markers, so both
    target the same n), find B's key, and return B's version."""
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 10), base)
    rival_df = _df(spark, 77)

    class InterleavingFS(LocalFS):
        """On A's first marker attempt, first let replica B land the
        same key at the same version number."""

        def __init__(self):
            self.injected = False

        def create_new(self, path, data=b""):
            if not self.injected and "_commits" in path:
                self.injected = True
                write_snapshot(
                    rival_df, base, idempotency_key="batch-9"
                )  # replica B wins v2
            super().create_new(path, data)

    v = write_snapshot(
        _df(spark, 20), base, fs=InterleavingFS(), idempotency_key="batch-9"
    )
    assert v == 2
    assert committed_versions(spark, base) == [1, 2]
    # the winning replica's data is what v2 serves
    assert read_snapshot(spark, base, version=2).count() == 77
    # exactly one marker carries the key
    keys = [
        snapshot_info(spark, base, x).get("idempotency_key")
        for x in committed_versions(spark, base)
    ]
    assert keys.count("batch-9") == 1


def test_protocol_through_hadoop_fs(spark, tmp_path):
    """The full commit protocol (exclusive marker create + marker
    read_file included) through the Hadoop FileSystem API on file:// —
    the code path an HDFS/S3A deployment runs."""
    base = f"file://{tmp_path}/t"
    fs = HadoopFS(spark, base)
    v1 = write_snapshot(_df(spark, 100), base, fs=fs)
    assert v1 == 1
    assert committed_versions(spark, base, fs=fs) == [1]
    assert read_snapshot(spark, base, fs=fs).count() == 100
    assert snapshot_info(spark, base, 1, fs=fs)["rows"] == 100
    v2 = compact_snapshot(spark, base, target_file_bytes=10**9, fs=fs)
    assert v2 == 2
    assert read_snapshot(spark, base, fs=fs).count() == 100
    with pytest.raises(FileExistsError):
        fs.create_new(f"{base}/_commits/v00000001", b"x")
    assert gc_snapshots(spark, base, keep=1, fs=fs, orphan_min_age_s=0) == [1]


def test_upsert_merge_semantics(spark, tmp_path):
    """SQL MERGE as copy-on-write: replace matched keys, insert new
    ones, tombstone-delete flagged ones; unrelated rows untouched;
    old version still time-travelable; replay via idempotency key
    lands nothing."""
    from vector_db_setup_spark.sources.snapshot_table import upsert_snapshot

    base = str(tmp_path / "t")
    initial = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    v1 = upsert_snapshot(initial, base, key_col="id")
    assert v1 == 1  # first landing = plain insert
    updates = spark.createDataFrame(
        [(2, "B", False), (4, "d", False), (3, None, True)],
        "id long, val string, _deleted boolean",
    )
    v2 = upsert_snapshot(
        updates, base, key_col="id", delete_col="_deleted",
        idempotency_key="day-2",
    )
    got = _rows(read_snapshot(spark, base))
    assert got == [(1, "a"), (2, "B"), (4, "d")]  # replaced/inserted/deleted
    assert _rows(read_snapshot(spark, base, version=v1)) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]  # time travel intact
    # replayed merge is a no-op returning the same version
    v3 = upsert_snapshot(
        updates, base, key_col="id", delete_col="_deleted",
        idempotency_key="day-2",
    )
    assert v3 == v2
    assert _rows(read_snapshot(spark, base)) == got


def test_versioned_ivf_index_build_search_rebuild(spark, tmp_path):
    """operators/ann_index: a build lands as a self-describing
    snapshot version (centroids in the marker meta); full-probe search
    equals exact KNN; a rebuild lands a NEW version while a pinned
    search against the old one still answers; partition pruning
    reaches the probed cluster dirs."""
    from tests.conftest import SF_ORACLE
    from vector_db_setup_spark.operators.ann_index import (
        build_ivf_index,
        search_ivf_index,
    )
    from vector_db_setup_spark.operators.knn import knn_topk
    from vector_db_setup_spark.sources.registry import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    base = str(tmp_path / "idx")
    v1 = build_ivf_index(emb, base, k=8, seed=7)
    assert v1 == 1
    info = snapshot_info(spark, base, v1)
    assert info["meta"]["k"] == 8 and len(info["meta"]["centroids"]) == 8
    # nprobe = k is exact: must equal brute-force KNN row-for-row
    got = [
        (r["vec_id"], round(r["distance"], 6))
        for r in search_ivf_index(spark, base, qvec, topk=10, nprobe=8).collect()
    ]
    want = [
        (r["vec_id"], round(r["distance"], 6))
        for r in knn_topk(emb, "embedding", qvec, k=10, id_col="vec_id").collect()
    ]
    assert got == want
    # partial probe prunes partitions (physical plan carries the
    # cluster_id partition filter)
    pruned = search_ivf_index(spark, base, qvec, topk=5, nprobe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan
    # rebuild with a different seed lands v2; a search pinned to v1
    # still answers identically after the new head exists
    v2 = build_ivf_index(emb, base, k=8, seed=99)
    assert v2 == 2
    got_v1 = [
        (r["vec_id"], round(r["distance"], 6))
        for r in search_ivf_index(
            spark, base, qvec, topk=10, nprobe=8, version=v1
        ).collect()
    ]
    assert got_v1 == want
    # head search (new index) is also exact at full probe
    got_v2 = [
        (r["vec_id"], round(r["distance"], 6))
        for r in search_ivf_index(spark, base, qvec, topk=10, nprobe=8).collect()
    ]
    assert got_v2 == want


def test_upsert_duplicate_keys_rejected(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import upsert_snapshot

    base = str(tmp_path / "t")
    dup = spark.createDataFrame(
        [(1, "a"), (1, "b")], "id long, val string"
    )
    with pytest.raises(ValueError, match="duplicate id"):
        upsert_snapshot(dup, base, key_col="id")


def test_upsert_recomputes_on_concurrent_commit(spark, tmp_path):
    """Lost-update protection: a rival commits between the merge's head
    read and the marker create. The upsert must NOT land its stale
    merge (which would drop the rival's change) — it recomputes
    against the new head, so BOTH changes survive."""
    from vector_db_setup_spark.sources.snapshot_table import (
        upsert_snapshot,
        write_snapshot,
    )

    base = str(tmp_path / "t")
    initial = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, val string"
    )
    upsert_snapshot(initial, base, key_col="id")
    rival_df = spark.createDataFrame(
        [(1, "RIVAL"), (2, "b"), (9, "rival-new")], "id long, val string"
    )

    class RivalCommitsFS(LocalFS):
        def __init__(self):
            self.injected = False

        def create_new(self, path, data=b""):
            if not self.injected and "_commits" in path:
                self.injected = True
                write_snapshot(rival_df, base)  # rival lands v2 first
            super().create_new(path, data)

    updates = spark.createDataFrame([(2, "B2")], "id long, val string")
    v = upsert_snapshot(updates, base, key_col="id", fs=RivalCommitsFS())
    got = _rows(read_snapshot(spark, base))
    # rival's rows survive AND the upsert applied: key 1 = RIVAL,
    # key 2 = B2 (upsert over the rival's head), key 9 present
    assert got == [(1, "RIVAL"), (2, "B2"), (9, "rival-new")]
    assert v == committed_versions(spark, base)[-1]


def test_search_refuses_non_index_version(spark, tmp_path):
    """compact_snapshot/upsert land generic commits without index meta
    or cluster partitioning — searching such a head must fail loudly,
    not scan unpruned with stale centroids."""
    from tests.conftest import SF_ORACLE
    from vector_db_setup_spark.operators.ann_index import (
        build_ivf_index,
        search_ivf_index,
    )
    from vector_db_setup_spark.sources.registry import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    base = str(tmp_path / "idx")
    v1 = build_ivf_index(emb, base, k=4, seed=7)
    compact_snapshot(spark, base)  # generic commit becomes the head
    qvec = emb.first()["embedding"]
    with pytest.raises(ValueError, match="not an IVF index commit"):
        search_ivf_index(spark, base, qvec, topk=3, nprobe=4)
    # pinning the index version still works
    got = search_ivf_index(spark, base, qvec, topk=3, nprobe=4, version=v1)
    assert got.count() == 3


def test_build_ivf_index_custom_vec_col(spark, tmp_path):
    from tests.conftest import SF_ORACLE
    from vector_db_setup_spark.operators.ann_index import (
        build_ivf_index,
        search_ivf_index,
    )
    from vector_db_setup_spark.sources.registry import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings").withColumnRenamed(
        "embedding", "vec"
    )
    base = str(tmp_path / "idx")
    build_ivf_index(emb, base, k=4, seed=7, vec_col="vec")
    qvec = emb.first()["vec"]
    got = search_ivf_index(spark, base, qvec, topk=3, nprobe=4)
    assert got.count() == 3


def test_schema_evolution_across_versions(spark, tmp_path):
    """Per-version immutable dirs make schema evolution trivial: a new
    version may add/drop columns; every pinned version reads with ITS
    OWN schema (no mergeSchema fog, no retroactive nulls)."""
    base = str(tmp_path / "t")
    v1 = write_snapshot(
        spark.createDataFrame([(1, "a")], "id long, val string"), base
    )
    v2 = write_snapshot(
        spark.createDataFrame(
            [(1, "a", 0.5)], "id long, val string, score double"
        ),
        base,
    )
    assert read_snapshot(spark, base, version=v1).columns == ["id", "val"]
    assert read_snapshot(spark, base, version=v2).columns == [
        "id", "val", "score",
    ]
    assert read_snapshot(spark, base).first()["score"] == 0.5


def test_snapshot_diff_statuses(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import snapshot_diff

    base = str(tmp_path / "t")
    v1 = write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
        ),
        base,
    )
    v2 = write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (4, "d")], "id long, val string"
        ),
        base,
    )
    got = {
        r["id"]: r["status"]
        for r in snapshot_diff(spark, base, v1, v2, key_col="id").collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_rollback_is_zero_copy_and_gc_safe(spark, tmp_path):
    """Rollback commits a marker pointing at the OLD data dir (no new
    dir appears); the shared dir survives GC of the bad version while
    the rollback head references it."""
    from vector_db_setup_spark.sources.snapshot_table import (
        rollback_snapshot,
        snapshot_info,
    )

    base = str(tmp_path / "t")
    v1 = write_snapshot(_df(spark, 100), base)
    v2 = write_snapshot(_df(spark, 999), base)  # the "bad" deploy
    dirs_before = _data_dirs(base)
    v3 = rollback_snapshot(spark, base, v1)
    assert _data_dirs(base) == dirs_before  # zero-copy: no new dir
    assert snapshot_info(spark, base, v3)["data"] == snapshot_info(
        spark, base, v1
    )["data"]
    assert read_snapshot(spark, base).count() == 100  # head = rolled back
    assert read_snapshot(spark, base, version=v2).count() == 999  # auditable
    # GC the bad version and the original: the SHARED dir must survive
    # because the rollback head still references it
    removed = gc_snapshots(spark, base, keep=1, orphan_min_age_s=0)
    assert removed == [v1, v2]
    assert read_snapshot(spark, base).count() == 100


def test_gc_shared_dir_survives_partial_marker_failure(spark, tmp_path):
    """A dir shared by TWO dropped versions (original + its rollback):
    if one marker delete is refused, the dir must survive — else the
    surviving committed version points at deleted data."""
    from vector_db_setup_spark.sources.snapshot_table import (
        rollback_snapshot,
    )

    base = str(tmp_path / "t")
    v1 = write_snapshot(_df(spark, 100), base)       # dir D
    rollback_snapshot(spark, base, v1)               # v2 also names D
    write_snapshot(_df(spark, 50), base)             # v3
    write_snapshot(_df(spark, 60), base)             # v4 (head)
    # drop = [v1, v2]; refuse exactly v2's marker delete
    class RefusesV2(LocalFS):
        def delete(self, path, ignore_errors=False):
            if path.endswith("_commits/v00000002"):
                raise OSError("refused")
            super().delete(path, ignore_errors=ignore_errors)

    removed = gc_snapshots(
        spark, base, keep=2, fs=RefusesV2(), orphan_min_age_s=0
    )
    assert removed == [1]
    # v2 survived the failed delete AND its (shared) data is intact
    assert 2 in committed_versions(spark, base)
    assert read_snapshot(spark, base, version=2).count() == 100


def test_rollback_detects_concurrent_gc_of_target(spark, tmp_path):
    """GC reclaims the target's dir between the marker read and the
    commit: the rollback must undo its own marker and raise, never
    leave a head pointing at deleted data."""
    import shutil

    from vector_db_setup_spark.sources.snapshot_table import (
        rollback_snapshot,
        snapshot_info,
    )

    base = str(tmp_path / "t")
    v1 = write_snapshot(_df(spark, 100), base)
    write_snapshot(_df(spark, 50), base)
    doomed = f"{base}/{snapshot_info(spark, base, v1)['data']}"

    class GcRacesUs(LocalFS):
        def __init__(self):
            self.raced = False

        def create_new(self, path, data=b""):
            super().create_new(path, data)
            if not self.raced and "_commits" in path:
                self.raced = True
                shutil.rmtree(doomed)  # GC lands right after our commit

    with pytest.raises(FileNotFoundError, match="GC'd concurrently"):
        rollback_snapshot(spark, base, v1, fs=GcRacesUs())
    # the orphan marker was undone; head still valid
    assert committed_versions(spark, base) == [1, 2]
    assert read_snapshot(spark, base).count() == 50


def test_snapshot_diff_refuses_schema_mismatch_and_duplicates(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import snapshot_diff

    base = str(tmp_path / "t")
    v1 = write_snapshot(
        spark.createDataFrame([(1, "a")], "id long, val string"), base
    )
    v2 = write_snapshot(
        spark.createDataFrame(
            [(1, "a", 1.0)], "id long, val string, score double"
        ),
        base,
    )
    with pytest.raises(ValueError, match="differ in schema"):
        snapshot_diff(spark, base, v1, v2, key_col="id")
    v3 = write_snapshot(
        spark.createDataFrame(
            [(1, "a", 1.0), (1, "b", 2.0)], "id long, val string, score double"
        ),
        base,
    )
    with pytest.raises(ValueError, match="duplicate id"):
        snapshot_diff(spark, base, v2, v3, key_col="id")


def test_same_key_twin_committing_during_parquet_write(spark, tmp_path):
    """The r6-advice exactly-once hole: replica B lands the key while A
    is inside its (long) parquet write — A's entry-time key check is
    stale, and the head scan SEES B's marker, so without the in-loop
    recheck A would allocate head+1 and commit the batch a second time
    with no marker collision. The recheck must instead return B's
    version, and A's unreferenced data dir must be reclaimed."""
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 10), base)
    rival_df = _df(spark, 77)

    class TwinLandsMidWrite(LocalFS):
        """listdir of _commits #1 is A's entry-time key check (before
        the data write); on call #2 — the commit loop's head scan,
        after A's parquet is on disk — replica B commits the key
        first, and the listing A gets back INCLUDES B's marker."""

        def __init__(self):
            self.calls = 0

        def listdir(self, path):
            if path.endswith("_commits"):
                self.calls += 1
                if self.calls == 2:
                    write_snapshot(rival_df, base, idempotency_key="batch-9")
            return super().listdir(path)

    dirs_before = set(_data_dirs(base))
    v = write_snapshot(
        _df(spark, 20), base, fs=TwinLandsMidWrite(), idempotency_key="batch-9"
    )
    assert v == 2
    assert committed_versions(spark, base) == [1, 2]
    assert read_snapshot(spark, base, version=2).count() == 77  # B's data
    keys = [
        snapshot_info(spark, base, x).get("idempotency_key")
        for x in committed_versions(spark, base)
    ]
    assert keys.count("batch-9") == 1  # landed exactly once
    # A's abandoned dir was reclaimed immediately; only B's dir is new
    new_dirs = set(_data_dirs(base)) - dirs_before
    assert new_dirs == {snapshot_info(spark, base, 2)["data"]}


def test_compaction_does_not_shadow_concurrent_commit(spark, tmp_path):
    """The r6-advice lost-update hole: a writer lands v2 during the
    compaction rewrite of v1. Compaction must NOT commit its stale copy
    of v1 over it (v2 would vanish from the head lineage and GC would
    later delete its data); it must detect the conflict via
    expected_head and recompact the NEW head instead."""
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 100), base)

    class WriterLandsMidCompaction(LocalFS):
        """du_suffix is compaction's sizing pass over the OLD head's
        dir — inject the rival there, before the rewrite commits."""

        def __init__(self):
            self.injected = False

        def du_suffix(self, path, suffix):
            if not self.injected:
                self.injected = True
                write_snapshot(_df(spark, 999), base)  # acknowledged v2
            return super().du_suffix(path, suffix)

    v = compact_snapshot(
        spark, base, target_file_bytes=10**9, fs=WriterLandsMidCompaction()
    )
    assert v == 3
    assert committed_versions(spark, base) == [1, 2, 3]
    # the acknowledged v2 stayed in the lineage and the new head is a
    # compaction OF v2, not a resurrected copy of v1
    assert read_snapshot(spark, base, version=2).count() == 999
    assert read_snapshot(spark, base).count() == 999
    assert snapshot_info(spark, base, 3)["note"] == "compacted v2"


def test_compaction_conflict_exhaustion_raises(spark, tmp_path):
    """A table too hot to compact must raise, never re-commit a stale
    rewrite under a later version number."""
    from vector_db_setup_spark.sources.snapshot_table import (
        SnapshotConflictError,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 100), base)

    class AlwaysRivaled(LocalFS):
        def du_suffix(self, path, suffix):
            write_snapshot(_df(spark, 5), base)  # a rival EVERY attempt
            return super().du_suffix(path, suffix)

    with pytest.raises(SnapshotConflictError, match="kept losing"):
        compact_snapshot(
            spark, base, target_file_bytes=10**9, fs=AlwaysRivaled(),
            retries=1,
        )
    # every head in the lineage is a real commit; no stale copy landed
    notes = [
        snapshot_info(spark, base, x)["note"]
        for x in committed_versions(spark, base)
    ]
    assert all(not n.startswith("compacted") for n in notes)


def test_snapshot_diff_key_only_table(spark, tmp_path):
    """A table with no value columns diffs as added/removed/unchanged
    (zero-arg xxhash64 used to fail analysis with an unrelated error)."""
    from vector_db_setup_spark.sources.snapshot_table import snapshot_diff

    base = str(tmp_path / "t")
    v1 = write_snapshot(spark.createDataFrame([(1,), (2,)], "id long"), base)
    v2 = write_snapshot(spark.createDataFrame([(2,), (3,)], "id long"), base)
    got = {
        r["id"]: r["status"]
        for r in snapshot_diff(spark, base, v1, v2, key_col="id").collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "added"}


def test_gc_skips_versions_reclaimed_by_concurrent_gc(spark, tmp_path):
    """Two maintenance schedulers: a marker vanishing between this GC's
    listing and its read must be SKIPPED (already reclaimed), not abort
    the whole run mid-way."""
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 10), base)
    write_snapshot(_df(spark, 20), base)
    write_snapshot(_df(spark, 30), base)

    class RivalGcAteV1(LocalFS):
        """v1's marker reads as already-gone (the rival GC removed it
        after our listing); everything else behaves normally."""

        def read_file(self, path):
            if path.endswith("_commits/v00000001"):
                raise FileNotFoundError(path)
            return super().read_file(path)

    removed = gc_snapshots(
        spark, base, keep=1, fs=RivalGcAteV1(), orphan_min_age_s=0
    )
    assert removed == [2]  # v2 still reclaimed; v1 skipped, run completed
    assert read_snapshot(spark, base).count() == 30  # head untouched


def _jobs(spark, group, fn):
    """Spark jobs ``fn`` starts, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pinned_ivf_search_runs_one_job(spark, tmp_path):
    """A pinned single-query IVF search is one Spark job — the top-k;
    no schema-inference job precedes it — and reading the same version
    again starts none."""
    import numpy as np

    from vector_db_setup_spark.operators.ann_index import (
        build_ivf_index,
        search_ivf_index,
    )

    rng = np.random.default_rng(5)
    x = rng.normal(size=(200, 8))
    emb = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(len(x))],
        "vec_id long, embedding array<double>",
    )
    base = str(tmp_path / "idx")
    v = build_ivf_index(emb, base, k=4, seed=1)
    q = rng.normal(size=8)
    rows, n = _jobs(
        spark, "ivf-one-job",
        lambda: search_ivf_index(
            spark, base, q.tolist(), topk=5, nprobe=4, version=v
        ).collect(),
    )
    assert n == 1, f"{n} jobs for one pinned search"
    d = np.sqrt(((x - q) ** 2).sum(axis=1))
    assert [r["vec_id"] for r in rows] == list(np.argsort(d, kind="stable")[:5])
    plan = (
        search_ivf_index(spark, base, q.tolist(), topk=5, nprobe=2, version=v)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan and "Exchange" not in plan
    _, n = _jobs(
        spark, "reread-no-job", lambda: read_snapshot(spark, base, version=v)
    )
    assert n == 0


def test_recreated_table_reads_its_new_schema(spark, tmp_path):
    """A table deleted and re-created at the same base reuses version
    numbers with new columns: the remembered schema of the old dirs
    must not leak into the new version's read."""
    import shutil

    base = str(tmp_path / "t")
    v = write_snapshot(_df(spark, 10), base)
    assert read_snapshot(spark, base, version=v).columns == ["id", "payload"]
    shutil.rmtree(base)
    again = spark.range(5).select(
        (F.col("id") * 2).alias("k"), F.lit(1.5).alias("score"),
        F.lit("x").alias("tag"),
    )
    assert write_snapshot(again, base) == v
    df = read_snapshot(spark, base, version=v)
    assert df.columns == ["k", "score", "tag"]
    assert sorted(r["k"] for r in df.collect()) == [0, 2, 4, 6, 8]


def test_evolved_version_null_fills_after_remembered_read(spark, tmp_path):
    """Reading the original dir first (so its two-column schema is
    remembered) must not stop a schema_merged version from merging
    footers and null-filling its late column."""
    from vector_db_setup_spark.sources.snapshot_table import append_snapshot

    base = str(tmp_path / "t")
    v1 = write_snapshot(_df(spark, 10), base)
    assert read_snapshot(spark, base, version=v1).count() == 10
    v2 = append_snapshot(
        _df(spark, 4).withColumn("lang", F.lit("en")), base,
        merge_schema=True,
    )
    for _ in range(2):
        df = read_snapshot(spark, base, version=v2)
        assert set(df.columns) == {"id", "payload", "lang"}
        assert df.filter(F.col("lang").isNull()).count() == 10
        assert df.filter(F.col("lang") == "en").count() == 4


def test_schema_memo_is_bounded(spark, tmp_path, monkeypatch):
    """The per-session schema memo never holds more than its bound, and
    reads past an eviction still answer."""
    from vector_db_setup_spark.sources import snapshot_table as st

    monkeypatch.setattr(st, "_SCHEMAS_MAX", 2)
    base = str(tmp_path / "t")
    vs = [write_snapshot(_df(spark, n), base) for n in (3, 4, 5, 6)]
    for _ in range(2):
        for v, n in zip(vs, (3, 4, 5, 6)):
            assert read_snapshot(spark, base, version=v).count() == n
            assert len(st._SCHEMAS[spark]) <= 2
