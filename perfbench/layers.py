"""End-to-end and per-layer metrics of one run, and the report lines."""

from __future__ import annotations

import stats
from tracing import COUNTERS
from workloads import BATCH_QUERIES, TOPK

# Operations whose Spark counters are exported, summed over the
# operation spans of one request and reported as the median request.
OPS = (
    "operators.knn.knn_topk",
    "operators.ann_index.search_ivf_index",
    "operators.similarity.batch_knn_blocked",
    "operators.ann_index.search_ivf_index_batch",
    "operators.ann_index.build_ivf_index",
    "operators.ann_index.append_to_ivf_index",
    "operators.ann_index.merge_into_ivf_index",
    "operators.ann_index.compact_ivf_index",
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_candidates",
)
IVF_SEARCHES = ("operators.ann_index.search_ivf_index", "operators.ann_index.search_ivf_index_batch")
RESOLVE = ("sources.snapshot_table.current_version", "sources.snapshot_table.snapshot_info")


def _med(values) -> float:
    values = list(values)
    return stats.median(values) if values else 0.0


def end_to_end(run, session_s: float, peak_mb: float) -> dict:
    """name -> (value, unit). ``setup_s`` is session start plus the
    median set-up repetition; the warm-up is not in it."""
    out = {"setup_s": (session_s + stats.median(run.setup_reps), "s")}
    for kind in ("exact", "approx"):
        lat = [x * 1e3 for x in run.latency[kind]]
        if not lat:
            raise RuntimeError(f"no successful {kind} request in the timed loop")
        run.extra[f"{kind}_tail"] = stats.tail(lat) + (len(lat),)
        out[f"{kind}_p50_ms"] = (stats.percentile(lat, 50), "ms")
        out[f"{kind}_items_per_s"] = (run.items[kind] / sum(run.latency[kind]), "1/s")
    out["approx_recall"] = (sum(run.recalls) / len(run.recalls) if run.recalls else 0.0, "ratio")
    out["ops_per_s"] = (run.loop_ops / run.loop_s, "1/s")
    out["stored_bytes_per_user_byte"] = (stats.median(run.stored_ratio), "ratio")
    out["ok_rate"] = (1.0 - (run.failed + run.wrong) / run.attempted, "ratio")
    out["peak_rss_mb"] = (peak_mb, "MB")
    return out


def per_layer(tr, run, session_s: float) -> dict:
    """name -> (value, unit), from the spans of a traced run."""
    def dur(s):
        return s["end"] - s["start"]

    def op_s(r):
        """Time of a request's operation spans. Each ends before it reads
        its counters, so the tracer's counter reads are not in it."""
        return sum(dur(s) for s in tr.descendants(r) if s.get("group"))

    def top(name):
        """Spans of ``name`` opened directly by a client request."""
        roots = {s["id"] for s in tr.requests()}
        return [s for s in tr.named(name) if s["parent"] in roots]

    def reqs(op):
        return [r for r in tr.requests() if r["op"] == op]

    out = {
        "session.get_spark_s": (session_s, "s"),
        "operators.ann.kmeans_centroids_s": (_med(dur(s) for s in tr.named("operators.ann.kmeans_centroids")), "s"),
        "operators.ann_index.build_ivf_index_s": (_med(dur(s) for s in top("operators.ann_index.build_ivf_index")), "s"),
        "operators.knn.plan_ms": (_med(dur(s) * 1e3 for s in top("operators.knn.knn_topk")), "ms"),
        "operators.knn.exec_ms": (_med(dur(s) * 1e3 for s in tr.named("operators.knn.exec")), "ms"),
        "operators.ann_index.search_plan_ms": (_med(dur(s) * 1e3 for s in top("operators.ann_index.search_ivf_index")), "ms"),
        "operators.ann_index.search_exec_ms": (_med(dur(s) * 1e3 for s in tr.named("operators.ann_index.search_exec")), "ms"),
    }
    searches = [r for r in tr.requests() if r["op"] in IVF_SEARCHES]
    resolve = [[s for s in tr.descendants(r) if s["name"] in RESOLVE] for r in searches]
    out["sources.snapshot_table.resolve_ms"] = (_med(sum(dur(s) for s in rs) * 1e3 for rs in resolve), "ms")
    out["sources.snapshot_table.resolve_calls"] = (_med(len(rs) for rs in resolve), "count")
    out["operators.ann_index.search_batch_s"] = (_med(op_s(r) for r in reqs("operators.ann_index.search_ivf_index_batch")), "s")
    out["operators.similarity.batch_knn_blocked_s"] = (_med(op_s(r) for r in reqs("operators.similarity.batch_knn_blocked")), "s")
    out["operators.similarity.candidates_per_query"] = (
        _med(s.get("shuffle_records", 0) / (BATCH_QUERIES * TOPK) for s in tr.named("operators.similarity.exec")),
        "ratio",
    )
    for short, fn in (("append", "append_to_ivf_index"), ("merge", "merge_into_ivf_index"),
                      ("compact", "compact_ivf_index")):
        out[f"operators.ann_index.{short}_s"] = (_med(dur(s) for s in top(f"operators.ann_index.{fn}")), "s")
    out["operators.ann_index.write_rows_per_s"] = (run.extra.get("write_rows_per_s", 0.0), "1/s")
    conflicts = sum(1 for s in tr.named("sources.snapshot_table.commit") if s.get("error") == "SnapshotConflictError")
    out["sources.snapshot_table.commit_retries"] = (tr.marker_races[0] + conflicts, "count")
    out["sources.snapshot_table.head_data_files"] = (_med(x["files"] for x in run.layout), "count")
    out["sources.snapshot_table.tombstone_depth"] = (_med(x["tombstones"] for x in run.layout), "count")
    out["sources.snapshot_table.stored_bytes"] = (_med(x["bytes"] for x in run.layout), "bytes")
    examined = []
    for r in searches:
        rows = r.get("rows")
        if rows:
            scanned = sum(s.get("input_records", 0) for s in tr.descendants(r) if s.get("group"))
            examined.append(scanned / rows)
    out["operators.ann.rows_examined_per_result"] = (_med(examined), "ratio")
    out["operators.dedup.exact_dedup_s"] = (_med(op_s(r) for r in reqs("operators.dedup.exact_dedup")), "s")
    out["operators.dedup.lsh_candidates_s"] = (_med(op_s(r) for r in reqs("operators.dedup.minhash_lsh_candidates")), "s")
    out["operators.dedup.candidate_pairs"] = (run.extra.get("candidate_pairs", 0), "count")
    out["operators.dedup.candidate_precision"] = (run.extra.get("candidate_precision", 0.0), "ratio")
    # The tracer's own bookkeeping, counter reads included, as a share of
    # the loop. The traced-minus-untraced overhead, which also holds the
    # Spark UI's cost, is ``spread.py --overhead``: it compares
    # tracing.loop_ops_per_s with ops_per_s of untraced runs.
    out["tracing.bookkeeping_pct"] = (100.0 * run.extra["trace_overhead_s"] / run.loop_s, "%")
    out["tracing.loop_ops_per_s"] = (run.loop_ops / run.loop_s, "1/s")
    for op in OPS:
        per_req = [
            {c: sum(s.get(c, 0) for s in tr.descendants(r) if s.get("group")) for c in COUNTERS}
            for r in reqs(op)
        ]
        for c in COUNTERS:
            unit = "ms" if c == "executor_ms" else "bytes" if c.endswith("_bytes") else "count"
            out[f"{op}.{c}"] = (_med(p[c] for p in per_req), unit)
    return out


def report(workload: str, run, e2e: dict, per_layer: dict) -> None:
    """Print every metric by name and unit, one per line."""
    for kind in ("exact", "approx"):
        p, tail, beyond, n = run.extra[f"{kind}_tail"]
        print(f"{workload} {kind}: {n} requests; tail p{p:g} = {tail:.6g} ms with {beyond} samples beyond; "
              f"latencies ms {[round(x * 1e3) for x in run.latency[kind]]}")
    for k, v in run.extra.items():
        if not k.endswith("_tail") and k != "trace_overhead_s":
            print(f"{workload} {k} = {v}")
    print(f"{workload} setup reps (s) = {[round(x, 3) for x in run.setup_reps]}, warm-up {run.warm_s:.3f} s")
    print(f"{workload} error_rate = {(run.failed + run.wrong) / run.attempted} "
          f"({run.failed} failed, {run.wrong} wrong of {run.attempted})")
    for name, (v, unit) in {**e2e, **per_layer}.items():
        print(f"{workload} {name} = {v:.6g} {unit}")
