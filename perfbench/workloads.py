"""The benchmark's workloads.

Each workload is one closed-loop client: it sends its next request only
after the previous one returned, through the program's public functions,
and checks every answer against ``truth``. Requests come in two kinds
per workload, reported as the ``exact_*`` and ``approx_*`` metrics:

- point_search: exact ``knn.knn_topk`` vs IVF ``ann_index.search_ivf_index``
  single top-10 queries on a pinned index version. Its set-up also runs
  the index's write and batch paths once (see ``PointSearch``).
- near_dup: ``dedup.exact_dedup`` on ``text.doc_fingerprint`` vs
  ``dedup.minhash_lsh_candidates`` over a text corpus with planted
  duplicates.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import stats
import truth

TOPK = 10
IVF_LISTS = 4
NPROBE = 2
ROWS = 2000
APPEND_ROWS = 200
MERGE_ROWS = 100
BATCH_QUERIES = 8
DOCS = 2000
# Set-up repetitions whose median is reported. point_search builds an IVF
# index (KMeans + partitioned landing) and serves its write and batch paths
# once, which costs most of a run's budget, so it sets up once.
SETUP_REPS = {"point_search": 1, "near_dup": 3}
# Warm-up requests (timed in no metric) run for at least one of each kind
# and until this many seconds passed, so the timed loop starts after the
# JVM has compiled the hot paths. point_search's set-up already runs its
# searches' code. A near_dup LSH request falls from about 4 s to under
# 1 s over its first ten runs (16 s with the exact requests between
# them); after a 10 s warm-up the timed loop still held that decline, and
# its latencies varied 15-20 % around their mean instead of 5-8 %.
WARM_SECONDS = {"point_search": 3.0, "near_dup": 16.0}


@dataclass
class Run:
    spark: object
    tracer: object
    seed: int
    work: Path
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    errors: list = field(default_factory=list)
    latency: dict = field(default_factory=lambda: {"exact": [], "approx": []})
    items: dict = field(default_factory=lambda: {"exact": 0, "approx": 0})
    recalls: list = field(default_factory=list)
    setup_reps: list = field(default_factory=list)
    warm_s: float = 0.0
    loop_s: float = 0.0
    loop_ops: int = 0
    stored_ratio: list = field(default_factory=list)
    layout: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def attempt(self, what: str, fn):
        """Run one operation; a raised error is recorded, not fatal."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # the loop must keep running and report it
            self.failed += 1
            self.errors.append(f"{what}: {type(e).__name__}: {e}"[:800])
            traceback.print_exc(file=sys.stderr)
            return None

    def judge(self, what: str, problems: list[str]) -> bool:
        if problems:
            self.wrong += 1
            self.errors.append(f"{what}: wrong result: {'; '.join(problems)}"[:800])
        return not problems

    def request(self, kind: str, n_items: int, what: str, fn, warm: bool):
        """One client request. A measured one records its latency if it
        returned; a warm-up one is not measured. The caller judges the
        answer either way."""
        if warm:
            return self.attempt(what, fn)
        t0 = time.perf_counter()
        out = self.attempt(what, fn)
        dt = time.perf_counter() - t0
        if out is not None:
            self.latency[kind].append(dt)
            self.items[kind] += n_items
        return out

    def check_topk(self, rows, dist, exact: bool, warm: bool) -> list[str]:
        """Judge one query's (id, distance) rows; record IVF recall."""
        problems = truth.check_topk(rows, dist, TOPK, exact)
        if not problems and not exact and not warm:
            self.recalls.append(stats.recall([int(r[0]) for r in rows], truth.topk_ids(dist, TOPK)))
        return problems


# ---- landing ------------------------------------------------------------


def _vectors_table(id_name: str, ids: np.ndarray, vec_name: str, x: np.ndarray) -> pa.Table:
    n, d = x.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    vecs = pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1)))
    return pa.table({id_name: pa.array(ids.astype(np.int64)), vec_name: vecs})


def land_vectors(spark, path: Path, ids, x, id_name="vec_id", vec_name="embedding"):
    """Write vectors as one parquet file (float32 lists) and read it back."""
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(_vectors_table(id_name, np.asarray(ids), vec_name, x), path / "part-0.parquet")
    return spark.read.parquet(str(path))


def dir_usage(paths) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``paths``."""
    files = size = 0
    for p in paths:
        for root, _, names in os.walk(p):
            for n in names:
                size += os.path.getsize(os.path.join(root, n))
                files += n.endswith(".parquet")
    return files, size


def head_layout(spark, base: str) -> dict:
    """Head version's files, tombstones and bytes, listed from its marker."""
    from vector_db_setup_spark.sources import snapshot_table

    v = snapshot_table.current_version(spark, base)
    info = snapshot_table.snapshot_info(spark, base, v)
    data = info["data"] if isinstance(info["data"], list) else [info["data"]]
    deletes = info.get("deletes") or []
    files, _ = dir_usage([f"{base}/{d}" for d in data])
    _, size = dir_usage([f"{base}/{d}" for d in data] + [f"{base}/{e['dir']}" for e in deletes])
    return {"files": files, "tombstones": len(deletes), "bytes": size, "rows": info.get("rows")}


# ---- workloads ----------------------------------------------------------


class PointSearch:
    """Single top-10 queries, exact and IVF, on a pinned index version.

    Set-up builds the index, then serves the index's other paths once,
    each checked: an append, a merge, one exact and one IVF batch of
    queries at the head (paying merge-on-read), and a compaction, whose
    result is the version the timed loop pins."""

    name = "point_search"

    def setup(self, run: Run) -> None:
        from vector_db_setup_spark.operators import ann_index
        from vector_db_setup_spark.sources import snapshot_table

        spark = run.spark
        x = gen.corpus(run.seed, ROWS)
        self.live = x.astype(np.float64)
        self.work = run.work / f"rep{len(run.setup_reps)}"
        df = land_vectors(spark, self.work / "corpus", np.arange(ROWS), x)
        self.base = str(self.work / "index")
        with run.tracer.request("setup", "operators.ann_index.build_ivf_index"):
            ann_index.build_ivf_index(df, self.base, k=IVF_LISTS, seed=run.seed)
        self.write_rows = 0
        self.write_s = 0.0
        live = len(self.live)
        new = gen.append_batch(run.seed, 0, APPEND_ROWS)
        adf = land_vectors(spark, self.work / "append", np.arange(live, live + APPEND_ROWS), new)
        if self._write(run, "append_to_ivf_index", lambda: ann_index.append_to_ivf_index(adf, self.base), APPEND_ROWS):
            self.live = np.vstack([self.live, new.astype(np.float64)])
        ids, vecs = gen.merge_batch(run.seed, 0, len(self.live), MERGE_ROWS)
        mdf = land_vectors(spark, self.work / "merge", ids, vecs)
        if self._write(
            run, "merge_into_ivf_index",
            lambda: ann_index.merge_into_ivf_index(mdf, self.base, key_col="vec_id"),
            MERGE_ROWS,
        ):
            self.live[ids] = vecs.astype(np.float64)
        lay = self._check_head_rows(run, "writes")
        run.layout.append(lay)
        run.stored_ratio.append(lay["bytes"] / (len(self.live) * gen.DIM * 4))
        self._batch(run, True)
        self._batch(run, False)
        self._write(run, "compact_ivf_index", lambda: ann_index.compact_ivf_index(spark, self.base), 0)
        self._check_head_rows(run, "compact_ivf_index")
        run.extra["write_rows_per_s"] = self.write_rows / self.write_s
        self.version = snapshot_table.current_version(spark, self.base)
        self.df = snapshot_table.read_snapshot(spark, self.base, version=self.version)

    def _write(self, run: Run, op: str, fn, rows: int) -> bool:
        t0 = time.perf_counter()
        with run.tracer.request("write", f"operators.ann_index.{op}"):
            ok = run.attempt(op, fn) is not None
        self.write_s += time.perf_counter() - t0
        self.write_rows += rows if ok else 0
        return ok

    def _check_head_rows(self, run: Run, what: str) -> dict:
        lay = head_layout(run.spark, self.base)
        if lay["rows"] != len(self.live):
            run.judge(what, [f"head holds {lay['rows']} rows, expected {len(self.live)}"])
        return lay

    def _batch(self, run: Run, exact: bool) -> None:
        """One checked batch of queries at the index head."""
        from vector_db_setup_spark.operators import ann_index, similarity
        from vector_db_setup_spark.sources import snapshot_table

        tr = run.tracer
        q = gen.queries(run.seed, gen.BATCH, int(exact), BATCH_QUERIES)
        qdf = land_vectors(
            run.spark, self.work / f"queries{int(exact)}", np.arange(BATCH_QUERIES), q,
            id_name="query_id", vec_name="qvec",
        )
        if exact:
            what, op = "batch_knn_blocked", "operators.similarity.batch_knn_blocked"

            def call():
                with tr.request("batch", op) as req:
                    corpus = snapshot_table.read_snapshot(run.spark, self.base)
                    df = similarity.batch_knn_blocked(qdf, corpus, TOPK, query_vec_col="qvec")
                    with tr.span("operators.similarity.exec"):
                        rows = df.select("query_id", "vec_id", "dist").collect()
                    req["rows"] = len(rows)
                    return rows
        else:
            what, op = "search_ivf_index_batch", "operators.ann_index.search_ivf_index_batch"

            def call():
                with tr.request("batch", op) as req:
                    df = ann_index.search_ivf_index_batch(
                        run.spark, self.base, qdf, topk=TOPK, nprobe=NPROBE, qvec_col="qvec"
                    )
                    with tr.span("operators.ann_index.search_batch_exec"):
                        rows = df.select("query_id", "vec_id", "distance").collect()
                    req["rows"] = len(rows)
                    return rows

        rows = run.attempt(what, call)
        if rows is None:
            return
        by_q: dict[int, list] = {i: [] for i in range(len(q))}
        for r in rows:
            by_q.setdefault(int(r[0]), []).append((int(r[1]), float(r[2])))
        if set(by_q) != set(range(len(q))):
            run.judge(what, [f"answers for unknown queries {sorted(set(by_q) - set(range(len(q))))[:3]}"])
            return
        problems = []
        for qi, got in by_q.items():
            got.sort(key=lambda t: (t[1], t[0]))
            p = truth.check_topk(got, truth.l2_to(self.live, q[qi]), TOPK, exact)
            problems += [f"query {qi}: {m}" for m in p]
        run.judge(what, problems[:5])

    def warm(self, run: Run, deadline: float) -> None:
        i = 0
        while i < 2 or time.perf_counter() < deadline:
            self._query(run, gen.queries(run.seed, gen.WARM, i, 1)[0], i % 2 == 0, warm=True)
            i += 1

    def _query(self, run: Run, q, exact: bool, warm=False) -> None:
        from vector_db_setup_spark.operators import ann_index, knn

        tr = run.tracer
        if exact:
            kind, what, op, action = "exact", "knn_topk", "operators.knn.knn_topk", "operators.knn.exec"

            def plan():
                return knn.knn_topk(self.df, "embedding", q.tolist(), k=TOPK, id_col="vec_id")
        else:
            kind, what = "approx", "search_ivf_index"
            op, action = "operators.ann_index.search_ivf_index", "operators.ann_index.search_exec"

            def plan():
                return ann_index.search_ivf_index(
                    run.spark, self.base, q.tolist(), topk=TOPK, nprobe=NPROBE,
                    version=self.version,
                )

        def call():
            with tr.request(kind, op) as req:
                df = plan()
                with tr.span(action):
                    rows = df.select("vec_id", "distance").collect()
                req["rows"] = len(rows)
                return rows

        rows = run.request(kind, 1, what, call, warm)
        if rows is not None:
            run.judge(what, run.check_topk(rows, truth.l2_to(self.live, q), exact, warm))

    def loop(self, run: Run, deadline: float) -> None:
        i = 0
        while time.perf_counter() < deadline:
            self._query(run, gen.queries(run.seed, gen.QUERY, i, 1)[0], i % 2 == 0)
            i += 1
        run.loop_ops = i


class NearDup:
    """Exact and MinHash-LSH dedup passes over a landed text corpus."""

    name = "near_dup"

    def setup(self, run: Run) -> None:
        import pandas as pd

        from vector_db_setup_spark.sources import snapshot_table

        docs, family = gen.texts(run.seed, DOCS)
        self.family = family
        self.groups = truth.exact_groups(docs)
        self.planted = truth.planted_pairs(family)
        by_text: dict[str, list[int]] = {}
        for i, t in enumerate(docs):
            by_text.setdefault(t, []).append(i)
        self.identical = {
            (a, b) for ids in by_text.values() for a in ids for b in ids if a < b
        }
        rep = len(run.setup_reps)
        self.base = str(run.work / f"docs{rep}")
        df = run.spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(DOCS, dtype=np.int64), "text": docs})
        )
        with run.tracer.request("setup", "sources.snapshot_table.write_snapshot"):
            self.version = snapshot_table.write_snapshot(df, self.base)
        lay = head_layout(run.spark, self.base)
        run.layout.append(lay)
        run.stored_ratio.append(lay["bytes"] / sum(len(t.encode()) for t in docs))

    def warm(self, run: Run, deadline: float) -> None:
        i = 0
        while i < 2 or time.perf_counter() < deadline:
            (self._exact if i % 2 == 0 else self._approx)(run, warm=True)
            i += 1

    def _corpus(self, run):
        from vector_db_setup_spark.sources import snapshot_table

        return snapshot_table.read_snapshot(run.spark, self.base, version=self.version)

    def _exact(self, run: Run, warm=False) -> None:
        from vector_db_setup_spark.functions import text
        from vector_db_setup_spark.operators import dedup

        tr = run.tracer

        def call():
            with tr.request("exact", "operators.dedup.exact_dedup") as req:
                keyed = self._corpus(run).withColumn("fp", text.doc_fingerprint("text"))
                df = dedup.exact_dedup(keyed, ["fp"], "doc_id")
                with tr.span("operators.dedup.exact_exec"):
                    rows = df.collect()
                req["rows"] = len(rows)
                return rows

        rows = run.request("exact", DOCS, "exact_dedup", call, warm)
        if rows is None:
            return
        got = {r["fp"]: (int(r["keeper_id"]), int(r["group_size"])) for r in rows}
        problems = []
        if len(got) != len(rows):
            problems.append("duplicate keys")
        if got != self.groups:
            diff = [k for k in set(got) | set(self.groups) if got.get(k) != self.groups.get(k)]
            problems.append(f"{len(diff)} groups differ, e.g. {diff[:1]}")
        run.judge("exact_dedup", problems)

    def _approx(self, run: Run, warm=False) -> None:
        from vector_db_setup_spark.operators import dedup

        tr = run.tracer

        def call():
            with tr.request("approx", "operators.dedup.minhash_lsh_candidates") as req:
                df = dedup.minhash_lsh_candidates(self._corpus(run), "text", "doc_id")
                with tr.span("operators.dedup.lsh_exec"):
                    rows = df.collect()
                req["rows"] = len(rows)
                return rows

        rows = run.request("approx", DOCS, "minhash_lsh_candidates", call, warm)
        if rows is None:
            return
        pairs = [(int(r["id_a"]), int(r["id_b"])) for r in rows]
        cands = set(pairs)
        problems = []
        if len(cands) != len(pairs):
            problems.append("duplicate pairs")
        if any(not 0 <= a < b < DOCS for a, b in cands):
            problems.append("pair ids out of range or unordered")
        missed = self.identical - cands
        if missed:
            problems.append(f"{len(missed)} identical-text pairs not candidates")
        if run.judge("minhash_lsh_candidates", problems) and not warm:
            run.recalls.append(stats.recall(cands, self.planted))
            true = sum(1 for a, b in cands if truth.same_family(self.family, a, b))
            run.extra["candidate_pairs"] = len(cands)
            run.extra["candidate_precision"] = true / len(cands)

    def loop(self, run: Run, deadline: float) -> None:
        i = 0
        while time.perf_counter() < deadline:
            (self._exact if i % 2 == 0 else self._approx)(run)
            i += 1
        run.loop_ops = i


WORKLOADS = {w.name: w for w in (PointSearch, NearDup)}
