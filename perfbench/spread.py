"""Run one workload over several seeds and print each metric's median
and inter-quartile spread (as a share of the median).

    python3 perfbench/spread.py --workload point_search --seeds 1-10 --seconds 15 [--overhead]

Runs are untraced. With ``--overhead``, each seed also runs traced, and
the tracing overhead is printed per seed and as a median: the share by
which the traced loop's requests per second (``tracing.loop_ops_per_s``)
fall below the untraced ``ops_per_s`` of the same seed.

Run from the root of a checkout. Raw results are appended as JSON lines
to ``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(args, log: Path, seed: int, trace: str) -> dict | None:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
           "--seed", str(seed), "--seconds", args.seconds, "--trace", trace]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    with open(log, "a") as f:
        f.write(json.dumps({"seed": seed, "trace": int(trace), **res}) + "\n")
    print(f"seed {seed} trace {trace}: correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']}", flush=True)
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="15")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    log = HERE.parent / ".perfbench" / f"spread-{args.workload}.jsonl"
    log.parent.mkdir(exist_ok=True)
    results, overhead = [], []
    for seed in _seeds(args.seeds):
        res = _run(args, log, seed, "0")
        if res is None:
            return 1
        results.append(res)
        if args.overhead:
            traced = _run(args, log, seed, "1")
            if traced is None:
                return 1
            pct = 100.0 * (1.0 - traced["metrics"]["tracing.loop_ops_per_s"]["value"]
                           / res["metrics"]["ops_per_s"]["value"])
            overhead.append(pct)
            print(f"seed {seed}: tracing overhead {pct:.2f} % of ops_per_s", flush=True)
    if overhead:
        print(f"tracing overhead (traced minus untraced ops_per_s): median "
              f"{stats.median(overhead):.2f} % over {len(overhead)} seeds")
    names = list(results[0]["metrics"])
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results]
        med = stats.median(vals)
        sp = stats.spread(vals) if len(vals) >= 2 and med else float("nan")
        print(f"{name:55s} median {med:12.6g}  spread {sp:8.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
