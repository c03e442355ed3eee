"""In-memory spans around calls into the program's layers.

Spans are recorded from the benchmark's side only: the workloads open
request and action spans themselves, and ``Tracer.wrap`` replaces a
module attribute with a wrapper for the duration of a run, so calls the
program makes between its own layers are timed without editing it.

A span opened while no other span collects Spark counters is an
operation span: it runs its jobs under its own job group and, on exit,
reads jobs, stages and tasks from ``SparkContext.statusTracker()`` and
records, bytes, shuffle, spill and executor time from the Spark UI's
monitoring REST API (the UI must be on).
"""

from __future__ import annotations

import functools
import json
import time
import urllib.error
import urllib.request
from contextlib import contextmanager, nullcontext

COUNTERS = (
    "jobs", "stages", "tasks", "input_records", "input_bytes",
    "shuffle_bytes", "spill_bytes", "executor_ms",
)
# fetched with the others but exported only through derived ratios
_EXTRA = ("shuffle_records",)
_DONE = {"COMPLETE", "SKIPPED", "FAILED"}


class NullTracer:
    """Tracing off: every hook is a no-op."""

    overhead_s = 0.0

    def span(self, name, **_):
        return nullcontext({})

    def request(self, kind, op):
        return nullcontext({})


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.sc = None
        self._rest = None
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self._next_rid = 0
        self.counter_errors: list[str] = []
        # time spent in the tracer's own bookkeeping, counters included
        self.overhead_s = 0.0

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        url = self.sc.uiWebUrl
        if url:
            self._rest = f"{url}/api/v1/applications/{self.sc.applicationId}"

    @contextmanager
    def span(self, name: str, counters: bool = True, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        collecting = any(s.get("group") for s in self._stack)
        rec = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": parent["rid"] if parent else None,
            **attrs,
        }
        if counters and not collecting and self.sc is not None:
            rec["group"] = f"perfbench-span-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        self.overhead_s += time.perf_counter() - t0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            t1 = time.perf_counter()
            self._stack.pop()
            if rec.get("group"):
                self.sc._jsc.clearJobGroup()
                rec.update(self._counters(rec["group"]))
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t1

    @contextmanager
    def request(self, kind: str, op: str):
        """Root span of one client request; its descendants share its id."""
        self._next_rid += 1
        with self.span(f"request.{kind}", counters=False, kind=kind, op=op) as rec:
            rec["rid"] = self._next_rid
            yield rec

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanning wrapper until ``restore``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patches.append((module, attr, fn))
        setattr(module, attr, traced)

    def wrap_method(self, cls, attr: str, hook) -> None:
        """Replace ``cls.attr`` by ``hook(original)`` until ``restore``."""
        fn = getattr(cls, attr)
        self._patches.append((cls, attr, fn))
        setattr(cls, attr, hook(fn))

    def restore(self) -> None:
        while self._patches:
            obj, attr, fn = self._patches.pop()
            setattr(obj, attr, fn)

    def _counters(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(COUNTERS + _EXTRA, 0)
        out["jobs"] = len(jobs)
        out["stages"] = len(stage_ids)
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is not None:
                out["tasks"] += info.numCompletedTasks
        if self._rest is None:
            return out
        for s in sorted(stage_ids):
            for att in self._stage(s):
                out["input_records"] += att.get("inputRecords", 0)
                out["input_bytes"] += att.get("inputBytes", 0)
                out["shuffle_bytes"] += att.get("shuffleWriteBytes", 0)
                out["shuffle_records"] += att.get("shuffleWriteRecords", 0)
                out["spill_bytes"] += att.get("memoryBytesSpilled", 0) + att.get(
                    "diskBytesSpilled", 0
                )
                out["executor_ms"] += att.get("executorRunTime", 0)
        return out

    def _stage(self, stage_id: int) -> list[dict]:
        """Attempts of one stage, once the status store has finished it
        (its listener runs asynchronously to the action that returned)."""
        url = f"{self._rest}/stages/{stage_id}"
        deadline = time.perf_counter() + 2.0
        while True:
            try:
                with urllib.request.urlopen(url, timeout=5) as resp:
                    atts = json.load(resp)
            except urllib.error.HTTPError as e:
                if e.code == 404 and time.perf_counter() < deadline:
                    time.sleep(0.01)
                    continue
                self.counter_errors.append(f"stage {stage_id}: HTTP {e.code}")
                return []
            if all(a.get("status") in _DONE for a in atts) or time.perf_counter() >= deadline:
                return atts
            time.sleep(0.01)

    # ---- analysis -------------------------------------------------------

    def self_times(self) -> None:
        """Add ``self_ms``: duration minus the time covered by children
        (children of one span run one after another)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            s["self_ms"] = max(0.0, s["end"] - s["start"] - child_s.get(s["id"], 0.0)) * 1e3

    def write(self, path: str, t0: float) -> None:
        self.self_times()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                out = {k: v for k, v in s.items() if k != "group"}
                out["start_ms"] = (s["start"] - t0) * 1e3
                out["end_ms"] = (s["end"] - t0) * 1e3
                del out["start"], out["end"]
                f.write(json.dumps(out) + "\n")

    def requests(self, kind: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"].startswith("request.") and (kind is None or s["kind"] == kind)
        ]

    def descendants(self, root: dict) -> list[dict]:
        return [s for s in self.spans if s["rid"] == root["rid"] and s is not root]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]
