"""CHECK constraints on the snapshot table: declared at write (name ->
SQL boolean expr), enforced on the landed frame BEFORE the marker
commits, enforced on every append batch against the HEAD's checks, and
carried by every derived commit (delete/rollback/compact/upsert) until
a fresh write re-declares or drops them."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vector_db_setup_spark.sources.snapshot_table import (
    append_snapshot,
    compact_snapshot,
    committed_versions,
    current_version,
    delete_from_snapshot,
    read_snapshot,
    rollback_snapshot,
    snapshot_info,
    upsert_snapshot,
    write_snapshot,
)

CHECKS = {"id_nonneg": "id >= 0", "payload_present": "payload IS NOT NULL"}


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id", F.md5(F.col("id").cast("string")).alias("payload")
    )


def test_write_rejects_violating_batch_and_reclaims(spark, tmp_path):
    base = str(tmp_path / "t")
    bad = spark.createDataFrame(
        [(1, "a"), (-2, "b"), (-3, None)], "id long, payload string"
    )
    with pytest.raises(ValueError, match="id_nonneg.*2|2.*id_nonneg"):
        write_snapshot(bad, base, checks=CHECKS)
    # nothing committed, and the violating dir was reclaimed
    assert committed_versions(spark, base) == []
    assert [
        n for n in os.listdir(base) if not n.startswith("_")
    ] == [] or not os.path.isdir(base)


def test_append_enforces_head_checks_and_carries_them(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 10), base, checks=CHECKS)
    v2 = append_snapshot(_df(spark, 10, 15), base)
    assert snapshot_info(spark, base, v2)["checks"] == CHECKS
    bad = spark.createDataFrame([(99, None)], "id long, payload string")
    with pytest.raises(ValueError, match="payload_present"):
        append_snapshot(bad, base)
    assert current_version(spark, base) == v2
    assert read_snapshot(spark, base).count() == 15


def test_checks_ride_delete_rollback_compact_upsert(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 10), base, checks=CHECKS)
    v_del = delete_from_snapshot(
        spark.range(0, 2).select("id"), base, key_col="id"
    )
    assert snapshot_info(spark, base, v_del)["checks"] == CHECKS
    v_up = upsert_snapshot(_df(spark, 3, 5), base, key_col="id")
    assert snapshot_info(spark, base, v_up)["checks"] == CHECKS
    v_cp = compact_snapshot(spark, base)
    assert snapshot_info(spark, base, v_cp)["checks"] == CHECKS
    v_rb = rollback_snapshot(spark, base, to_version=v_del)
    assert snapshot_info(spark, base, v_rb)["checks"] == CHECKS
    # still enforced after the whole derived chain
    bad = spark.createDataFrame([(-1, "x")], "id long, payload string")
    with pytest.raises(ValueError, match="id_nonneg"):
        append_snapshot(bad, base)
    # a fresh write DROPS them (re-declaration is explicit)
    write_snapshot(_df(spark, 0, 3), base)
    assert "checks" not in snapshot_info(
        spark, base, current_version(spark, base)
    )
    append_snapshot(bad, base)  # no gate anymore


def test_unevaluable_check_fails_loudly(spark, tmp_path):
    """A gate that cannot be evaluated (references a column the frame
    lacks) must refuse the commit, never pass silently."""
    base = str(tmp_path / "t")
    with pytest.raises(ValueError, match="cannot be evaluated"):
        write_snapshot(
            _df(spark, 0, 5),
            base,
            checks={"lang_set": "lang IS NOT NULL"},
        )
    assert committed_versions(spark, base) == []
    # and an evolved append missing a checked column refuses too
    write_snapshot(
        _df(spark, 0, 5).withColumn("lang", F.lit("en")),
        base,
        checks={"lang_set": "lang IS NOT NULL"},
    )
    with pytest.raises(ValueError, match="cannot be evaluated"):
        append_snapshot(_df(spark, 5, 8), base, merge_schema=True)


def test_violating_upsert_refused(spark, tmp_path):
    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 5), base, checks=CHECKS)
    bad = spark.createDataFrame([(2, None)], "id long, payload string")
    with pytest.raises(ValueError, match="payload_present"):
        upsert_snapshot(bad, base, key_col="id")
    assert read_snapshot(spark, base).filter(
        F.col("payload").isNull()
    ).count() == 0


def test_gc_keep_age_protects_young_versions(spark, tmp_path):
    """keep_age_s composes with keep: a version survives if among the
    newest `keep` OR younger than the window — retention contracts
    are clocks, not counts."""
    import json

    from vector_db_setup_spark.sources.snapshot_table import (
        COMMITS_DIR,
        gc_snapshots,
    )

    base = str(tmp_path / "t")
    for i in range(1, 6):
        write_snapshot(_df(spark, 0, 10 + i), base, note=f"v{i}")
    # age v1 and v2 artificially (rewrite their markers' created_utc)
    for v in (1, 2):
        mp = os.path.join(base, COMMITS_DIR, f"v{v:08d}")
        body = json.loads(open(mp).read())
        body["created_utc"] = 1000.0  # 1970, well past any window
        os.remove(mp)
        with open(mp, "w") as f:
            f.write(json.dumps(body))
    removed = gc_snapshots(
        spark, base, keep=1, orphan_min_age_s=0, keep_age_s=3600
    )
    # only the ARTIFICIALLY AGED versions fell; 3 and 4 are young even
    # though keep=1 alone would have dropped them
    assert removed == [1, 2]
    assert committed_versions(spark, base) == [3, 4, 5]
    assert read_snapshot(spark, base).count() == 15
    # without the age floor, keep=1 reclaims everything but the head
    removed2 = gc_snapshots(spark, base, keep=1, orphan_min_age_s=0)
    assert removed2 == [3, 4]


def test_tags_pin_resolve_and_survive_gc(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        delete_tag,
        gc_snapshots,
        list_tags,
        tag_snapshot,
    )

    base = str(tmp_path / "t")
    for i in range(1, 6):
        write_snapshot(_df(spark, 0, 10 + i), base)
    assert tag_snapshot(spark, base, "train-2026-08", version=2) == 2
    assert list_tags(spark, base) == {"train-2026-08": 2}
    got = read_snapshot(spark, base, tag="train-2026-08")
    assert got.count() == 12
    # immutable: re-tagging the same name refuses
    with pytest.raises(FileExistsError, match="immutable"):
        tag_snapshot(spark, base, "train-2026-08", version=4)
    # GC keeps the tagged version alive past the keep window
    removed = gc_snapshots(spark, base, keep=1, orphan_min_age_s=0)
    assert 2 not in removed and sorted(removed) == [1, 3, 4]
    assert read_snapshot(spark, base, tag="train-2026-08").count() == 12
    # deleting the tag releases it to the NEXT gc
    delete_tag(spark, base, "train-2026-08")
    assert list_tags(spark, base) == {}
    removed2 = gc_snapshots(spark, base, keep=1, orphan_min_age_s=0)
    assert removed2 == [2]
    with pytest.raises(Exception):
        read_snapshot(spark, base, tag="train-2026-08")
    # guards: bad name, untagged resolve, version+tag together
    with pytest.raises(ValueError, match="tag name"):
        tag_snapshot(spark, base, ".hidden")
    with pytest.raises(ValueError, match="not both"):
        read_snapshot(spark, base, version=5, tag="x")
    with pytest.raises(FileNotFoundError):
        tag_snapshot(spark, base, "gone", version=1)  # GC'd version


def test_register_view_by_tag(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        register_snapshot_view,
        tag_snapshot,
    )

    base = str(tmp_path / "t")
    write_snapshot(_df(spark, 0, 7), base)
    tag_snapshot(spark, base, "gold")
    write_snapshot(_df(spark, 0, 50), base)  # head moves on
    v = register_snapshot_view(spark, base, "gold_docs", tag="gold")
    assert v == 1
    assert spark.sql("SELECT count(*) n FROM gold_docs").first()["n"] == 7
    with pytest.raises(ValueError, match="ONE of"):
        register_snapshot_view(spark, base, "x", version=1, tag="gold")


def test_null_predicate_passes_like_sql_check(spark, tmp_path):
    """SQL CHECK semantics: unknown (NULL) is not a violation — only a
    definite FALSE refuses the batch."""
    base = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, None)], "id long, score long"
    )
    write_snapshot(df, base, checks={"score_pos": "score > 0"})  # OK
    assert read_snapshot(spark, base).count() == 2
    bad = spark.createDataFrame([(3, -5)], "id long, score long")
    with pytest.raises(ValueError, match="score_pos"):
        append_snapshot(bad, base)
    # NULL-passes applies to null VALUES; a batch omitting the checked
    # column ENTIRELY still refuses (unevaluable gate — a producer
    # dropping a gated column is a schema bug, not an unknown)
    with pytest.raises(ValueError, match="cannot be evaluated"):
        append_snapshot(
            spark.createDataFrame([(4,)], "id long"), base,
            merge_schema=True,
        )
    # null VALUE in the gated column passes through the same gate
    append_snapshot(
        spark.createDataFrame([(4, None)], "id long, score long"),
        base,
    )
    assert read_snapshot(spark, base).count() == 3


def test_compact_if_on_empty_table_returns_none(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import compact_if

    assert compact_if(spark, str(tmp_path / "never_landed")) is None


def test_gc_aborts_on_unreadable_tag(spark, tmp_path):
    from vector_db_setup_spark.sources.snapshot_table import (
        TAGS_DIR,
        gc_snapshots,
    )

    base = str(tmp_path / "t")
    for i in range(3):
        write_snapshot(_df(spark, 0, 10 + i), base)
    os.makedirs(os.path.join(base, TAGS_DIR), exist_ok=True)
    with open(os.path.join(base, TAGS_DIR, "torn"), "wb") as f:
        f.write(b"")  # exists but unparseable (in-flight create shape)
    with pytest.raises(RuntimeError, match="unreadable"):
        gc_snapshots(spark, base, keep=1, orphan_min_age_s=0)
    # nothing was reclaimed while the pin was unreadable
    assert committed_versions(spark, base) == [1, 2, 3]


def test_gc_resurrects_marker_tagged_mid_run(spark, tmp_path):
    """A tag created between GC's protection scan and its marker
    deletes pins a version GC already dropped — the post-delete
    recheck must resurrect the marker before any data dir is touched."""
    from vector_db_setup_spark.sources.fs import LocalFS
    from vector_db_setup_spark.sources.snapshot_table import (
        gc_snapshots,
        list_tags,
        tag_snapshot,
    )

    base = str(tmp_path / "t")
    for i in range(3):
        write_snapshot(_df(spark, 0, 10 + i), base)

    class TagAfterScan(LocalFS):
        def __init__(self):
            self.fired = False

        def delete(self, path, ignore_errors=False):
            if "_commits/v00000001" in path and not self.fired:
                self.fired = True
                # rival tags v1 AFTER the protection scan passed it by
                tag_snapshot(spark, base, "late", version=1)
            super().delete(path, ignore_errors=ignore_errors)

    removed = gc_snapshots(
        spark, base, keep=1, orphan_min_age_s=0, fs=TagAfterScan()
    )
    assert 1 not in removed
    assert list_tags(spark, base) == {"late": 1}
    assert read_snapshot(spark, base, tag="late").count() == 10
    assert 1 in committed_versions(spark, base)


def test_persist_cache_releases_dead_sessions():
    """The session-scoped persist memo must not pin dead sessions
    (r13 VERDICT hygiene item: a plain dict keyed on the session object
    grew monotonically across get_spark cycles). Weak keys: dropping
    the last reference to a session drops its cache entries."""
    import gc

    from vector_db_setup_spark import queries as q

    class FakeDF:
        def persist(self):
            return self

        def unpersist(self):
            pass

    class FakeSession:
        pass

    base = len(q._PERSIST_CACHE)
    kept = FakeSession()
    q._memo_persist(kept, "/tmp/x", "keep", lambda: FakeDF())
    for _ in range(5):
        s = FakeSession()
        q._memo_persist(s, "/tmp/x", "t", lambda: FakeDF())
        del s
    gc.collect()
    assert len(q._PERSIST_CACHE) == base + 1  # only the live session
    # memoization still works for the live session
    first = q._memo_persist(kept, "/tmp/x", "keep", lambda: FakeDF())
    again = q._memo_persist(kept, "/tmp/x", "keep", lambda: FakeDF())
    assert first is again
    assert q.clear_persist_cache(kept) == 1


def test_qvec_cache_is_bounded(monkeypatch):
    """queries._QVEC_CACHE drops its oldest entry at _QVEC_MAX, and a
    held key is served without recomputing."""
    from vector_db_setup_spark import queries as q

    monkeypatch.setattr(q, "_QVEC_CACHE", {})
    monkeypatch.setattr(q, "_QVEC_MAX", 2)
    calls = []

    def compute(v):
        calls.append(v)
        return v

    for i in range(5):
        assert q._qvec_memo(("/tmp/x", i), lambda: compute(i)) == i
        assert len(q._QVEC_CACHE) <= 2
    assert q._qvec_memo(("/tmp/x", 4), lambda: compute(-1)) == 4
    assert calls == [0, 1, 2, 3, 4]
