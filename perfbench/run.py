"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload point_search --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Human-readable report lines come
first; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer ones with
``--trace 1``). Spans of a traced run are written to
``.perfbench/spans-<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _install_wraps(tr) -> None:
    """Span the calls the program makes between its own layers."""
    from vector_db_setup_spark import session
    from vector_db_setup_spark.functions import text
    from vector_db_setup_spark.operators import ann, ann_index, dedup, knn, similarity
    from vector_db_setup_spark.sources import fs, snapshot_table

    st = "sources.snapshot_table."
    for mod, attr, name in [
        (session, "get_spark", "session.get_spark"),
        (snapshot_table, "current_version", st + "current_version"),
        (snapshot_table, "snapshot_info", st + "snapshot_info"),
        (snapshot_table, "read_snapshot", st + "read_snapshot"),
        (snapshot_table, "write_snapshot", st + "write_snapshot"),
        (snapshot_table, "append_snapshot", st + "append_snapshot"),
        (snapshot_table, "merge_snapshot", st + "merge_snapshot"),
        (snapshot_table, "compact_snapshot", st + "compact_snapshot"),
        (snapshot_table, "_commit_loop", st + "commit"),
        (ann_index, "snapshot_info", st + "snapshot_info"),
        (ann_index, "read_snapshot", st + "read_snapshot"),
        (ann_index, "write_snapshot", st + "write_snapshot"),
        (ann_index, "kmeans_centroids", "operators.ann.kmeans_centroids"),
        (ann_index, "ivf_assign_auto", "operators.ann.ivf_assign_auto"),
        (ann_index, "build_ivf_index", "operators.ann_index.build_ivf_index"),
        (ann_index, "search_ivf_index", "operators.ann_index.search_ivf_index"),
        (ann_index, "search_ivf_index_batch", "operators.ann_index.search_ivf_index_batch"),
        (ann_index, "append_to_ivf_index", "operators.ann_index.append_to_ivf_index"),
        (ann_index, "merge_into_ivf_index", "operators.ann_index.merge_into_ivf_index"),
        (ann_index, "compact_ivf_index", "operators.ann_index.compact_ivf_index"),
        (ann, "probe_ids", "operators.ann.probe_ids"),
        (ann, "ivf_search_batch", "operators.ann.ivf_search_batch"),
        (knn, "knn_topk", "operators.knn.knn_topk"),
        (similarity, "batch_knn_blocked", "operators.similarity.batch_knn_blocked"),
        (similarity, "_count_capped", "operators.graph.count_capped"),
        (dedup, "exact_dedup", "operators.dedup.exact_dedup"),
        (dedup, "minhash_lsh_candidates", "operators.dedup.minhash_lsh_candidates"),
        (dedup, "minhash_band_keys", "operators.dedup.minhash_band_keys"),
        (dedup, "minhash_signature_array", "operators.dedup.minhash_signature_array"),
        (dedup, "shingle_hashes", "operators.dedup.shingle_hashes"),
        (dedup, "_pairs_from_banded", "operators.dedup.pairs_from_banded"),
        (dedup, "tokens", "functions.text.tokens"),
        (text, "doc_fingerprint", "functions.text.doc_fingerprint"),
    ]:
        tr.wrap(mod, attr, name)

    races = tr.marker_races = [0]

    def count_races(create_new):
        def wrapped(self, path, data=b""):
            try:
                return create_new(self, path, data)
            except FileExistsError:
                if f"/{snapshot_table.COMMITS_DIR}/" in path:
                    races[0] += 1
                raise

        return wrapped

    tr.wrap_method(fs.LocalFS, "create_new", count_races)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # still alive after 30 s: make sure it ends
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "vector_db_setup_spark" / "__init__.py").is_file():
        print(f"perfbench: no vector_db_setup_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import layers
    import workloads
    from tracing import NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    out_dir = ROOT / ".perfbench"
    work = out_dir / f"work-{args.workload}-{os.getpid()}"
    for sub in ("spark-local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    # Everything Spark or Python writes stays inside the checkout.
    os.environ.update(
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        SPARK_UI="true" if args.trace else "false",
        SPARK_DRIVER_MEM="1g",
    )
    tr = Tracer() if args.trace else NullTracer()
    if args.trace:
        _install_wraps(tr)
    from vector_db_setup_spark import session

    wl = workloads.WORKLOADS[args.workload]()
    spark = None
    t_start = time.perf_counter()
    try:
        t0 = time.perf_counter()
        with tr.request("setup", "session.get_spark"):
            spark = session.get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{nproc}]",
                shuffle_partitions=nproc,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": str(work / "warehouse"),
                    # a fixed-size heap keeps peak RSS from following GC timing
                    "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={work / 'tmp'} "
                    f"-Dderby.system.home={work / 'tmp'}",
                },
            )
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tr.attach(spark)
        run = workloads.Run(spark, tr, args.seed, work)
        for _ in range(workloads.SETUP_REPS[args.workload]):
            t0 = time.perf_counter()
            wl.setup(run)
            run.setup_reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm(run, t0 + workloads.WARM_SECONDS[args.workload])
        run.warm_s = time.perf_counter() - t0
        cpu0 = _cpu_times()
        t0 = time.perf_counter()
        overhead0 = tr.overhead_s
        wl.loop(run, t0 + args.seconds)
        run.loop_s = time.perf_counter() - t0
        run.extra["trace_overhead_s"] = tr.overhead_s - overhead0
        # CPU time the host took from this machine during the loop
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        run.extra["loop_cpu_steal_share"] = cpu[7] / sum(cpu)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
        e2e = layers.end_to_end(run, session_s, peak_mb)
        per_layer = layers.per_layer(tr, run, session_s) if args.trace else {}
    finally:
        if args.trace:
            tr.restore()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        spans = out_dir / f"spans-{args.workload}-seed{args.seed}.jsonl"
        tr.write(str(spans), t_start)
        print(f"spans: {spans} ({len(tr.spans)} spans)")
        for e in tr.counter_errors[:5]:
            print(f"counter error: {e}")
    for e in run.errors[:20]:
        print(f"error: {e}")
    layers.report(args.workload, run, e2e, per_layer)
    metrics = per_layer if args.trace else e2e
    print(json.dumps({
        "correct": run.failed == 0 and run.wrong == 0,
        "attempted": run.attempted,
        "failed": run.failed + run.wrong,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
