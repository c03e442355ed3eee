"""Property-based tests (hypothesis): operator implementations vs
brute-force references on random inputs. Few examples, seeded — each
example pays a Spark job; breadth comes from randomness across runs of
the generator, determinism from the fixed seed."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

PROP = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)


@given(
    a=st.lists(st.floats(-100, 100, allow_nan=False), min_size=1, max_size=16),
    b=st.lists(st.floats(-100, 100, allow_nan=False), min_size=1, max_size=16),
)
@settings(**PROP)
@seed(42)
def test_l2_matches_numpy(spark, a, b):
    from vector_db_setup_spark.functions.vector import l2_distance, vector_literal

    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    got = (
        spark.range(1)
        .select(l2_distance(vector_literal(a), vector_literal(b)).alias("d"))
        .first()["d"]
    )
    want = float(np.linalg.norm(np.array(a) - np.array(b)))
    assert got == pytest.approx(want, rel=1e-9, abs=1e-9)


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)), min_size=1, max_size=12
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000), st.integers(0, 99)),
        min_size=0,
        max_size=12,
    ),
)
@settings(**PROP)
@seed(42)
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    from vector_db_setup_spark.operators.temporal import asof_join

    # dedupe (key, t) on the right: equal-timestamp duplicates make the
    # "latest at-or-before" row ambiguous in ANY asof implementation
    seen = {}
    for k, t, v in rights:
        seen[(k, t)] = v
    rights = [(k, t, v) for (k, t), v in seen.items()]

    left = spark.createDataFrame(
        [(k, float(t), i) for i, (k, t) in enumerate(lefts)],
        "k long, t double, lid long",
    ).select("k", F.timestamp_seconds("t").alias("t"), "lid")
    right_rows = [(k, float(t), v) for (k, t, v) in rights]
    right = spark.createDataFrame(
        right_rows or [(99, 0.0, 0)], "k long, t double, v long"
    ).select("k", F.timestamp_seconds("t").alias("t"), "v")
    if not right_rows:
        right = right.filter("k < 0")

    out = asof_join(left, right, "k", "t", "t", ["v"])
    got = {r["lid"]: r["asof_v"] for r in out.collect()}

    want = {}
    for i, (k, t) in enumerate(lefts):
        cands = [(rt, v) for (rk, rt, v) in rights if rk == k and rt <= t]
        want[i] = max(cands)[1] if cands else None
    assert got == want


@given(
    lefts=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 500)), min_size=1, max_size=8),
    rights=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 500)), min_size=0, max_size=15),
    delta=st.integers(1, 60),
)
@settings(**PROP)
@seed(42)
def test_range_join_matches_bruteforce(spark, lefts, rights, delta):
    from vector_db_setup_spark.operators.temporal import range_join

    left = spark.createDataFrame(
        [(k, float(t), i) for i, (k, t) in enumerate(lefts)],
        "k long, t double, lid long",
    ).select("k", F.timestamp_seconds("t").alias("t"), "lid")
    right = spark.createDataFrame(
        [(k, float(t), j) for j, (k, t) in enumerate(rights)] or [(9, 0.0, 0)],
        "k long, t double, rid long",
    ).select("k", F.timestamp_seconds("t").alias("rt"), "rid")
    if not rights:
        right = right.filter("k < 0")

    got = sorted(
        (r["lid"], r["rid"])
        for r in range_join(left, right, "k", "t", "rt", delta).collect()
    )
    want = sorted(
        (i, j)
        for i, (lk, lt) in enumerate(lefts)
        for j, (rk, rt) in enumerate(rights)
        if lk == rk and (lt - delta) <= rt < lt
    )
    assert got == want


def test_l2_distance_wide_vectors(spark):
    """768-d reference-shaped vectors through the native L2 expression."""
    from vector_db_setup_spark.functions.vector import l2_distance, vector_literal

    rng = np.random.default_rng(42)
    rows = [(i, rng.standard_normal(768).tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    q = rows[0][1]

    got = {
        r["id"]: r["d"]
        for r in df.select("id", l2_distance("v", vector_literal(q)).alias("d")).collect()
    }
    for i, v in rows:
        want = float(np.linalg.norm(np.array(v) - np.array(q)))
        assert got[i] == pytest.approx(want, rel=1e-9)


@given(
    n=st.integers(3, 40),
    m=st.integers(1, 12),
    k=st.integers(1, 15),
    dup_every=st.integers(2, 5),
)
@settings(**PROP)
@seed(42)
@example(n=14, m=1, k=2, dup_every=2)  # the BLAS gemv-vs-gemm tie flip
def test_matrix_topk_matches_bruteforce(n, m, k, dup_every):
    """Kernel-level (no Spark): _matrix_topk + the triangular mask must
    select EXACTLY the pairs brute force selects under the total order
    (cosine desc, id_a, id_b), including duplicate-similarity ties."""
    from vector_db_setup_spark.operators.similarity import (
        _mask_lower_inclusive,
        _matrix_topk,
        _topk_pairs,
    )

    rng = np.random.default_rng(n * 1000 + m * 10 + k)
    mat = rng.standard_normal((n, 4))
    mat[::dup_every] = mat[0]  # planted duplicate vectors -> tied sims
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    ids = np.arange(n, dtype=np.int64) * 3 + 1  # non-contiguous ids
    # ONE similarity matrix feeds BOTH paths: recomputing the chunk as
    # mat[lo:lo+m] @ mat.T dispatches to a different BLAS kernel (gemv
    # at m=1) whose last-ulp sums can land tied duplicate-pairs on
    # opposite sides of 1.0 and legitimately flip which of the ~n²/4
    # tied pairs top-k keeps (hypothesis-found at n=14, m=1, k=2).
    # The object under test is the mask + selection logic, not BLAS
    # bitwise reproducibility across shapes.
    sims_full = mat @ mat.T

    # brute force: all i<j pairs, total order, top-k
    pairs = [
        (ids[i], ids[j], sims_full[i, j])
        for i in range(n)
        for j in range(i + 1, n)
    ]
    pairs.sort(key=lambda t: (-t[2], t[0], t[1]))
    want = [(a, b, round(s, 9)) for a, b, s in pairs[:k]]

    # kernel path: row-chunked like the grid/bucket kernels
    acc = ([], [], [])
    for lo in range(0, n, m):
        sims = sims_full[lo : lo + m].copy()
        _mask_lower_inclusive(sims, lo)
        ia, jb, s = _matrix_topk(sims, ids[lo : lo + m], ids, k)
        acc[0].append(ia), acc[1].append(jb), acc[2].append(s)
    ia, jb, s = _topk_pairs(
        np.concatenate(acc[0]), np.concatenate(acc[1]), np.concatenate(acc[2]), k
    )
    got = [(int(a), int(b), round(float(x), 9)) for a, b, x in zip(ia, jb, s)]
    assert got == want


@given(
    s=st.text(max_size=64),
    seed_int=st.integers(-(2**31), 2**31 - 1),
)
@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@seed(7)
def test_murmur3_spark_matches_jvm(spark, s, seed_int):
    """functions/sketch.murmur3_32_spark must equal the JVM
    Murmur3_x86_32.hashUnsafeBytes for ARBITRARY unicode strings and
    seeds — the hash the CMS string probe stands on. (Cheap per
    example: one py4j call, no Spark job.)"""
    from vector_db_setup_spark.functions.sketch import murmur3_32_spark

    b = s.encode("utf-8")
    jvm = spark._jvm
    off = jvm.org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    want = jvm.org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        bytearray(b) if b else bytearray(b"\x00")[:0], off, len(b), seed_int
    )
    assert murmur3_32_spark(b, seed_int) == want


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=12,
    ),
)
@settings(**PROP)
@seed(77)
def test_quantize_roundtrip_error_bound_property(spark, vecs):
    """operators/quantize on adversarial inputs (huge/tiny ranges,
    constant dimensions, negatives): every reconstruction error must
    stay within half a quantization step of that dimension's corpus
    range, and degenerate dims (hi == lo) must decode exactly."""
    from vector_db_setup_spark.operators.quantize import (
        attach_quantizer,
        dequantize_expr,
        fit_scalar_quantizer,
        quantize,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, embedding array<double>",
    )
    qz = fit_scalar_quantizer(df, dim=4)
    dec = quantize(attach_quantizer(df, qz)).withColumn(
        "deq", dequantize_expr()
    )
    rows = dec.select("id", "embedding", "deq", "lo", "hi").collect()
    mat = np.array(vecs, dtype=np.float64)
    lo, hi = mat.min(axis=0), mat.max(axis=0)
    for r in rows:
        for d in range(4):
            err = abs(r["embedding"][d] - r["deq"][d])
            if hi[d] == lo[d]:
                assert err == 0.0, (d, r)
            else:
                # half a step + float slack proportional to the range
                bound = (hi[d] - lo[d]) / 510.0 + 1e-9 * (hi[d] - lo[d])
                assert err <= bound, (d, err, bound)


@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),   # key
            st.integers(min_value=0, max_value=99),  # value
            st.booleans(),                           # delete?
        ),
        min_size=1,
        max_size=6,
    ),
)
@settings(**PROP)
def test_upsert_snapshot_matches_dict_semantics(spark, tmp_path_factory, ops):
    """Property: a sequence of MERGE batches equals plain dict
    update/delete semantics — the simplest possible model of a keyed
    table. Each hypothesis example runs one batch of (key, val, del)
    ops against a fresh snapshot table seeded with keys 0..4 and
    compares the head version to the dict model. Within a batch,
    duplicate keys are deduped keep-one (updates.distinct on key isn't
    defined for conflicting values, so the model drops conflicting
    duplicates the same way: last write wins is NOT promised — we
    feed at most one op per key per batch)."""
    from vector_db_setup_spark.sources.snapshot_table import (
        read_snapshot,
        upsert_snapshot,
    )

    # at most one op per key per batch (MERGE requires unique keys)
    seen, batch = set(), []
    for k, v, d in ops:
        if k not in seen:
            seen.add(k)
            batch.append((k, v, d))

    base = str(tmp_path_factory.mktemp("prop") / "t")
    model = {k: -1 for k in range(5)}
    initial = spark.createDataFrame(
        [(k, v) for k, v in model.items()], "id long, val long"
    )
    upsert_snapshot(initial, base, key_col="id")
    updates = spark.createDataFrame(
        batch, "id long, val long, _del boolean"
    )
    upsert_snapshot(updates, base, key_col="id", delete_col="_del")
    for k, v, d in batch:
        if d:
            model.pop(k, None)
        else:
            model[k] = v
    got = {
        r["id"]: r["val"] for r in read_snapshot(spark, base).collect()
    }
    assert got == model


@given(
    payloads=st.lists(
        st.one_of(
            st.none(),
            st.binary(max_size=40),
            st.text(max_size=40),
            st.builds(
                lambda i, t: (
                    '{"event_id": %d, "event_type": "%s"}' % (i, t)
                ),
                st.integers(0, 99),
                st.sampled_from(["view", "click"]),
            ),
        ),
        min_size=1,
        max_size=8,
    ),
)
@settings(**PROP)
def test_parse_event_value_total_function(spark, payloads):
    """Property: the kafka payload parser is TOTAL — any byte soup in,
    exactly one row per input out, never a crash; every row is either
    fully parsed (valid JSON object) or dead-lettered (_corrupt set),
    and a null payload always dead-letters."""
    from vector_db_setup_spark.streaming.sources import (
        EVENT_COLUMNS,
        parse_event_value,
    )

    rows = [
        (p.encode() if isinstance(p, str) else p,) for p in payloads
    ]
    raw = spark.createDataFrame(rows, "value binary")
    out = parse_event_value(raw).collect()
    assert len(out) == len(payloads)
    for r, p in zip(out, payloads):
        assert set(r.asDict()) == set(EVENT_COLUMNS) | {"_corrupt"}
        if p is None:
            assert r["_corrupt"] == "<null payload>"


@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("write"), st.integers(1, 30)),
            st.tuples(st.just("append"), st.integers(1, 10)),
            st.tuples(st.just("evolve"), st.integers(1, 5)),
            st.tuples(st.just("delete"), st.integers(0, 9)),
            st.tuples(st.just("upsert"), st.integers(0, 9)),
            st.tuples(st.just("merge"), st.integers(0, 9)),
            st.tuples(st.just("compact"), st.just(0)),
            st.tuples(st.just("rollback"), st.just(0)),
            st.tuples(st.just("gc"), st.integers(1, 3)),
            st.tuples(st.just("ckpt"), st.just(0)),
        ),
        min_size=1,
        max_size=5,
    ),
)
@settings(**PROP)
def test_snapshot_protocol_model_based(spark, tmp_path_factory, ops):
    """Model-based check of the whole pointer-commit protocol: a random
    interleaving of write/append/evolve/upsert/compact/gc must keep the
    table equivalent to a trivial dict-and-version-list model (merge =
    O(batch) merge-on-read upsert with seq-scoped tombstones) — head
    contents exact, every surviving version's row count exact, GC'd
    versions unreadable. This is the randomized companion to the
    targeted race/crash tests. Appends (r8) create MULTI-DIR versions,
    so the random interleavings exercise upsert-over-append (multi-dir
    head read), compact-of-append-chain, rollback-to-multi-dir-marker,
    and GC with dirs shared across marker LISTS. `evolve` appends a
    batch carrying an extra `tag` column via merge_schema (old rows
    null-fill; later writes/rollbacks may narrow the schema again),
    and each example ends by pinning the FAST CDC attribution equal to
    the full-diff oracle over the surviving contiguous version chain —
    both the key-presence feed and the carry_columns VALUE feed.
    `ckpt` rolls a commit-log checkpoint mid-interleaving: a pure
    cache, so every invariant and both feeds must be unchanged by it
    (and GC after it exercises checkpoint-aware protection scans +
    stale-checkpoint reclamation)."""
    from vector_db_setup_spark.sources.snapshot_table import (
        append_snapshot,
        committed_versions,
        compact_snapshot,
        delete_from_snapshot,
        gc_snapshots,
        merge_snapshot,
        read_snapshot,
        rollback_snapshot,
        snapshot_changes,
        upsert_snapshot,
        write_commit_checkpoint,
        write_snapshot,
    )

    base = str(tmp_path_factory.mktemp("model") / "t")
    # key -> (val, tag); tag is None until an evolve touches the row
    head: dict[int, tuple] = {}
    versions: dict[int, int] = {}      # committed version -> rowcount
    contents: dict[int, dict] = {}     # committed version -> full dict
    shape: dict[int, bool] = {}        # committed version -> has tag?
    gone: set[int] = set()
    evolved = False                    # does the CURRENT schema carry tag?
    next_key = 1000                     # fresh keys for appends

    def _df(d, with_tag):
        if with_tag:
            rows = [(k, v, t) for k, (v, t) in sorted(d.items())]
            return spark.createDataFrame(
                rows or [(None, None, None)],
                "id long, val long, tag string",
            ).filter(F.col("id").isNotNull())
        rows = [(k, v) for k, (v, _) in sorted(d.items())]
        return spark.createDataFrame(
            rows or [(None, None)], "id long, val long"
        ).filter(F.col("id").isNotNull())

    def _commit(v):
        versions[v] = len(head)
        contents[v] = dict(head)
        shape[v] = evolved

    for op, arg in ops:
        if op == "write":
            head = {k: (k, None) for k in range(arg)}
            evolved = False  # a rewrite narrows the schema again
            v = write_snapshot(_df(head, False), base)
            _commit(v)
        elif op == "append":
            # append requires FRESH keys (it never replaces — a reused
            # key would be a duplicate row, which the dict model can't
            # express and a keyed table shouldn't hold); an evolved
            # table's batches must carry the union schema
            batch = {
                next_key + i: ((next_key + i) * 7, None)
                for i in range(arg)
            }
            next_key += arg
            head = {**head, **batch}
            v = append_snapshot(_df(batch, evolved), base)
            _commit(v)
        elif op == "evolve":
            batch = {
                next_key + i: ((next_key + i) * 7, f"t{next_key + i}")
                for i in range(arg)
            }
            next_key += arg
            head = {**head, **batch}
            v = append_snapshot(
                _df(batch, True), base, merge_schema=True
            )
            evolved = True
            _commit(v)
        elif op == "delete":
            if not versions:
                continue
            # merge-on-read tombstone; deleting an absent key is a
            # legal zero-row delete commit
            head = {k: v for k, v in head.items() if k != arg}
            v = delete_from_snapshot(
                spark.createDataFrame([(arg,)], "id long"), base, "id"
            )
            _commit(v)
        elif op == "upsert":
            if not versions:
                continue
            head = dict(head)
            head[arg] = (arg * 100, None)
            v = upsert_snapshot(
                _df({arg: (arg * 100, None)}, evolved),
                base,
                key_col="id",
            )
            _commit(v)
        elif op == "merge":
            if not versions:
                continue
            try:
                v = merge_snapshot(
                    _df({arg: (arg * 1000, None)}, evolved),
                    base,
                    key_col="id",
                )
            except ValueError:
                # legitimate refusals (unscoped-tombstoned key from an
                # earlier delete; schema_merged lineage): a refused
                # merge must commit NOTHING — dedicated tests pin the
                # refusal rules themselves
                assert committed_versions(spark, base) == sorted(versions)
                continue
            head = dict(head)
            head[arg] = (arg * 1000, None)
            _commit(v)
        elif op == "compact":
            if not versions:
                continue
            v = compact_snapshot(spark, base)
            _commit(v)
        elif op == "rollback":
            if not versions:
                continue
            target = sorted(versions)[0]  # oldest surviving
            head = dict(contents[target])
            evolved = shape[target]  # schema follows the restored dirs
            v = rollback_snapshot(spark, base, target)
            _commit(v)
        elif op == "gc":
            if not versions:
                continue
            removed = gc_snapshots(spark, base, keep=arg, orphan_min_age_s=0)
            for r in removed:
                gone.add(r)
                versions.pop(r, None)
        elif op == "ckpt":
            if not versions:
                continue
            write_commit_checkpoint(spark, base)  # cache only: no
            # observable change to any invariant below
        # invariants after EVERY op
        live = committed_versions(spark, base)
        assert live == sorted(versions), (live, versions)
        if versions:
            hdf = read_snapshot(spark, base)
            has_tag = "tag" in hdf.columns
            got = {
                r["id"]: (r["val"], r["tag"] if has_tag else None)
                for r in hdf.collect()
            }
            assert got == head, (got, head)
            for v, n in versions.items():
                assert read_snapshot(spark, base, version=v).count() == n
        for v in gone:
            try:
                read_snapshot(spark, base, version=v)
                raise AssertionError(f"GC'd version {v} still readable")
            except FileNotFoundError:
                pass
    # fast CDC == full-diff oracle over the surviving contiguous chain
    # (key-presence feed: valid across evolution boundaries)
    vs_live = sorted(versions)
    start = vs_live[0] if vs_live else 0
    for i in range(len(vs_live) - 1, 0, -1):
        if vs_live[i] - vs_live[i - 1] > 1:
            start = vs_live[i]
            break
    if vs_live and vs_live[-1] > start:
        def _feed(fast, carry=None):
            return {
                tuple(r)
                for r in snapshot_changes(
                    spark, base, "id", from_version=start,
                    columns=[], fast=fast, carry_columns=carry,
                ).collect()
            }

        assert _feed(True) == _feed(False)
        # the VALUE feed too: post-images for added/changed rows,
        # per-step pre-images for removed rows ("val" survives every
        # schema shape this model produces)
        assert _feed(True, carry=["val"]) == _feed(False, carry=["val"])

        # and the PAIR encoding (r10): content changes as
        # removed(pre)+added(post), compared over the declared
        # projection — fast merge attribution must equal the split
        # full diff over every interleaving this model generates
        def _pair(fast):
            return {
                tuple(r)
                for r in snapshot_changes(
                    spark, base, "id", from_version=start,
                    columns=["val"], fast=fast, carry_columns=["val"],
                    change_encoding="pair",
                ).collect()
            }

        assert _pair(True) == _pair(False)


@given(
    n_rows=st.integers(50, 300),
    n_files=st.integers(1, 6),
    probes=st.lists(st.integers(-50, 400), min_size=1, max_size=6),
    lo=st.integers(-50, 350),
    width=st.integers(0, 120),
    clustered=st.booleans(),
)
@settings(**PROP)
def test_pruned_reads_match_filter_oracle(
    spark, tmp_path_factory, n_rows, n_files, probes, lo, width, clustered
):
    """Stats-pruned reads (key_between / key_in) must return EXACTLY
    what an unpruned filter returns, for random layouts (clustered or
    shuffled), random file counts, and probe sets that straddle, miss,
    and duplicate the key domain — pruning is an optimization, never
    a semantics change."""
    from vector_db_setup_spark.sources.snapshot_table import (
        read_snapshot,
        write_snapshot,
    )

    base = str(tmp_path_factory.mktemp("prune") / "t")
    df = spark.range(0, n_rows).select(
        "id", (F.col("id") * 3 % 97).alias("val")
    )
    kw = (
        {"cluster_by": ["id"], "cluster_files": n_files}
        if clustered
        else {}
    )
    write_snapshot(
        df.repartition(n_files), base, stats_cols=["id"], **kw
    )
    full = read_snapshot(spark, base)
    hi = lo + width
    got_b = sorted(
        tuple(r)
        for r in read_snapshot(
            spark, base, key_between=("id", lo, hi)
        ).collect()
    )
    want_b = sorted(
        tuple(r)
        for r in full.filter(F.col("id").between(lo, hi)).collect()
    )
    assert got_b == want_b
    got_i = sorted(
        tuple(r)
        for r in read_snapshot(
            spark, base, key_in=("id", probes)
        ).collect()
    )
    want_i = sorted(
        tuple(r) for r in full.filter(F.col("id").isin(probes)).collect()
    )
    assert got_i == want_i


@given(
    tdocs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=6),
        min_size=1, max_size=5,
    ),
    rdocs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=6),
        min_size=1, max_size=8,
    ),
)
@settings(**PROP)
@seed(42)
def test_dsir_weights_match_bruteforce(spark, tdocs, rdocs):
    """operators/dsir importance weights vs a from-scratch Python
    reference on random token corpora: same md5 bucketing, same
    add-alpha smoothing, same per-doc sum."""
    import hashlib

    from vector_db_setup_spark.operators import dsir

    B, ALPHA = 16, 1.0

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B

    def grams(toks):
        return list(toks) + [
            f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)
        ]

    def feats(docs):
        out = []
        for i, toks in enumerate(docs):
            counts = {}
            for g in grams(toks):
                b = bucket(g)
                counts[b] = counts.get(b, 0) + 1
            out.append(counts)
        return out

    tfe, rfe = feats(tdocs), feats(rdocs)
    tb, rb = {}, {}
    for c in tfe:
        for b, n in c.items():
            tb[b] = tb.get(b, 0) + n
    for c in rfe:
        for b, n in c.items():
            rb[b] = rb.get(b, 0) + n
    tt, rt = sum(tb.values()), sum(rb.values())
    lr = {
        b: math.log((tb.get(b, 0) + ALPHA) / (tt + ALPHA * B))
        - math.log((rb.get(b, 0) + ALPHA) / (rt + ALPHA * B))
        for b in set(tb) | set(rb)
    }
    want = {
        i: round(sum(n * lr[b] for b, n in rfe[i].items()), 6)
        for i in range(len(rfe))
    }

    t_df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(tdocs)],
        "doc_id long, text string",
    )
    r_df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(rdocs)],
        "doc_id long, text string",
    )
    tf = dsir.hashed_ngram_counts(t_df, n_buckets=B)
    rf = dsir.hashed_ngram_counts(r_df, n_buckets=B)
    w = dsir.importance_weights(
        rf, dsir.bucket_log_ratio(tf, rf, n_buckets=B, alpha=ALPHA)
    )
    got = {r["doc_id"]: r["logw"] for r in w.collect()}
    assert set(got) == set(want)
    for i in want:
        assert got[i] == pytest.approx(want[i], abs=2e-6), (i, got[i], want[i])
