"""Spans around calls into the engine's layers, joined to Spark's own
job, stage and task counters.

A span is opened around each call the benchmark makes into a layer
(and, in a traced run, around the nested store/functions calls the
engine makes, by wrapping those module attributes). Each span sets a
Spark job group named after its id, so every job the call fires is
attributable to it. Spans live in memory; at the end of the run one
scrape of the UI's REST ``jobs`` and ``stages`` endpoints joins task
metrics to spans by job group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import urllib.request
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "task_cpu_ms", "shuffle_write_mb", "spill_mb", "gc_ms")


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "counters")

    def __init__(self, sid, name, parent, op):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.start = time.perf_counter()
        self.end = None
        self.counters = dict.fromkeys(COUNTERS, 0.0)

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Records spans while ``active``; a no-op otherwise, so untraced
    operations pay one attribute check per call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.active = enabled
        self.op = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"perfbench-{len(self.spans)}", name, parent.id if parent else None, self.op)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def wrap(self, module, attr: str, name: str, context_manager: bool = False) -> None:
        """Open a span around every call of ``module.attr`` (engine code
        looks these up at call time, so nested layer calls are seen)."""
        orig = getattr(module, attr)
        tracer = self
        if context_manager:
            @contextlib.contextmanager
            def wrapped(*a, **k):
                with tracer.span(name), orig(*a, **k) as v:
                    yield v
        else:
            def wrapped(*a, **k):
                with tracer.span(name):
                    return orig(*a, **k)
        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapped)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def join_counters(self) -> int:
        """Fill every span's counters from the UI's REST API. A span's
        counters include its child spans' jobs. Returns the number of
        jobs whose stages were not found (evicted or still running)."""
        if not self.spans:
            return 0
        sc = self.sc
        tracker = sc.statusTracker()
        # The UI's status store is fed asynchronously by the listener
        # bus: wait until it has seen every job of every span settle.
        jobs_of = {}
        deadline = time.time() + 30
        while True:
            jobs_of = {s.id: list(tracker.getJobIdsForGroup(s.id)) for s in self.spans}
            running = [j for ids in jobs_of.values() for j in ids
                       if (info := tracker.getJobInfo(j)) is None or info.status in ("RUNNING", "UNKNOWN")]
            if not running or time.time() > deadline:
                break
            time.sleep(0.2)
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = {j["jobId"]: j for j in _get(f"{base}/jobs")}
        stages = {}
        for st in _get(f"{base}/stages?details=false"):
            if st.get("status") == "COMPLETE":
                stages[st["stageId"]] = st
        missing = 0
        own = {}
        for s in self.spans:
            stage_ids, c = set(), dict.fromkeys(COUNTERS, 0.0)
            for j in jobs_of[s.id]:
                if j not in jobs:
                    missing += 1
                    continue
                c["jobs"] += 1
                stage_ids.update(i for i in jobs[j]["stageIds"] if i in stages)
            for i in stage_ids:
                st = stages[i]
                c["stages"] += 1
                c["tasks"] += st.get("numCompleteTasks", 0)
                c["task_cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
                c["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
                c["spill_mb"] += st.get("diskBytesSpilled", 0) / 2**20
                c["gc_ms"] += st.get("jvmGcTime", 0)
            own[s.id] = c
        # roll child counters up into their ancestors
        by_id = {s.id: s for s in self.spans}
        for s in self.spans:
            sid = s.id
            while sid is not None:
                tgt = by_id[sid]
                for k, v in own[s.id].items():
                    tgt.counters[k] += v
                sid = tgt.parent
        return missing

    def summary(self) -> "dict[str, float]":
        """``<span name>.<wall_ms|counter>`` → median over calls."""
        per_name = defaultdict(list)
        for s in self.spans:
            if s.end is not None:
                per_name[s.name].append(s)
        out = {}
        for name, spans in per_name.items():
            out[f"{name}.wall_ms"] = statistics.median(s.wall_ms for s in spans)
            for k in COUNTERS:
                out[f"{name}.{k}"] = statistics.median(s.counters[k] for s in spans)
        return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)
