"""Tracing for the traced run: spans around the benchmark's calls into
engine layers, Spark job groups per span, and the event-log decoder
that attributes jobs, stages, tasks and bytes to spans.

Spans live in memory (name, start, end, parent, op) and are written out
once at the end.  Each span that may launch Spark jobs sets the calling
thread's ``spark.jobGroup.id`` to its own id, so the event log names the
span of every job; jobs that carry no group (a thread the span did not
reach) fall back to the operation span whose interval holds them.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "pb-span-"


class Tracer:
    """Records spans while ``enabled``; a disabled tracer is a no-op, so
    workload code calls it unconditionally."""

    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = spark is not None
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root_stack: list[int] = []
        self._owner = threading.get_ident()
        self._patches: list[tuple] = []
        self._op: int | None = None
        self.quiet = 0  # >0 while the benchmark does its own bookkeeping

    def _stack(self) -> list[int]:
        # the thread that built the tracer owns the root stack; pool
        # threads start their own and nest under its innermost span
        if threading.get_ident() == self._owner:
            return self._root_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, jobs: bool = True):
        """Context manager timing ``name``.  ``jobs=False`` skips the
        job-group round trip for layers that never launch Spark jobs."""
        if not self.enabled or self.quiet:
            return nullcontext()
        return self._span(name, jobs)

    @contextmanager
    def _span(self, name: str, jobs: bool):
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._root_stack[-1] if self._root_stack else None
        )
        if parent is None:
            self._op = sid
        sc = self.spark.sparkContext if jobs else None
        prev = sc.getLocalProperty(GROUP_KEY) if sc else None
        if sc:
            sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        stack.append(sid)
        start = time.time() * 1000
        try:
            yield
        finally:
            end = time.time() * 1000
            stack.pop()
            if sc:
                sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "op": self._op,
                })

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled and not self.quiet:
            with self._lock:
                self.counts[name] += n

    def patch(self, owner, attr: str, name: str, jobs: bool = True,
              counter: str | None = None) -> None:
        """Wrap ``owner.attr`` (a module-level function the engine looks
        up at call time) in a span, and optionally a call counter."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if counter:
                self.count(counter)
            with self.span(name, jobs):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# ------------------------------------------------------------ event log --


def read_event_log(path: str) -> tuple[dict, dict]:
    """Decode an uncompressed Spark event log into ``(jobs, stages)``.

    jobs: job id -> {group, start, end, stages}; stages: stage id ->
    summed task metrics of its completed attempts."""
    jobs: dict[int, dict] = {}
    stages: dict[int, Counter] = defaultdict(Counter)
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "group": (e.get("Properties") or {}).get(GROUP_KEY),
                    "start": e["Submission Time"],
                    "end": e["Submission Time"],
                    "stages": e.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                stages[e["Stage Info"]["Stage ID"]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                s = stages[e["Stage ID"]]
                s["tasks"] += 1
                s["executor_run_ms"] += m.get("Executor Run Time", 0)
                s["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                s["gc_ms"] += m.get("JVM GC Time", 0)
                s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                s["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
    return jobs, stages


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Ledger:
    """Spans joined with the event log: per-span job lists, inclusive
    Spark counters, self time and driver gap."""

    def __init__(self, spans: list[dict], jobs: dict, stages: dict):
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.stages = stages
        self.jobs_of: dict[int, list[dict]] = defaultdict(list)
        ops = sorted((s for s in spans if s["parent"] is None),
                     key=lambda s: s["start"])
        owner_of_stage: dict[int, int] = {}
        for jid in sorted(jobs):
            j = jobs[jid]
            sid = None
            g = j["group"] or ""
            if g.startswith(GROUP_PREFIX) and int(g[len(GROUP_PREFIX):]) in self.spans:
                sid = int(g[len(GROUP_PREFIX):])
            else:
                sid = next((o["id"] for o in ops
                            if o["start"] <= j["start"] <= o["end"]), None)
            if sid is None:
                continue  # outside the traced operations (set-up, checks)
            j = dict(j, stages=[st for st in j["stages"]
                                if owner_of_stage.setdefault(st, jid) == jid])
            self.jobs_of[sid].append(j)

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children[cur])
        return out

    def ids(self, *names: str) -> list[int]:
        return [i for i, s in self.spans.items() if s["name"] in names]

    def jobs(self, sids) -> list[dict]:
        return [j for sid in sids for t in self.subtree(sid) for j in self.jobs_of[t]]

    def self_s(self, sids) -> float:
        """Duration minus the part covered by child spans."""
        total = 0.0
        for sid in sids:
            s = self.spans[sid]
            kids = [(self.spans[c]["start"], self.spans[c]["end"])
                    for c in self.children[sid]]
            total += (s["end"] - s["start"]) - _union_ms(kids)
        return total / 1000

    def wall_s(self, sids) -> float:
        return sum(self.spans[i]["end"] - self.spans[i]["start"] for i in sids) / 1000

    def driver_gap_s(self, sids) -> float:
        """Wall time with no Spark job of the span's subtree in flight."""
        gap = 0.0
        for sid in sids:
            s = self.spans[sid]
            busy = [(max(j["start"], s["start"]), min(j["end"], s["end"]))
                    for j in self.jobs([sid])]
            gap += (s["end"] - s["start"]) - _union_ms([b for b in busy if b[1] > b[0]])
        return gap / 1000

    def spark(self, sids) -> dict:
        """The ``spark.*`` counters over the given spans' subtrees."""
        jobs = self.jobs(sids)
        c: Counter = Counter()
        for j in jobs:
            for st in j["stages"]:
                c.update(self.stages.get(st, {}))
        wall = self.wall_s(sids)
        run_s = c["executor_run_ms"] / 1000
        return {
            "spark.jobs": len(jobs),
            "spark.stages": c["stages"],
            "spark.tasks": c["tasks"],
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": c["executor_cpu_ns"] / 1e9,
            "spark.gc_s": c["gc_ms"] / 1000,
            "spark.input_bytes": c["input_bytes"],
            "spark.shuffle_bytes": c["shuffle_bytes"],
            "spark.spill_bytes": c["spill_bytes"],
            "spark.driver_gap_s": self.driver_gap_s(sids),
            "spark.parallelism": run_s / wall if wall else 0.0,
        }

    def dump(self) -> list[dict]:
        """Every span with its self time and Spark counters, for the
        span file written at the end of a traced run."""
        out = []
        for sid, s in sorted(self.spans.items()):
            row = dict(s, self_s=self.self_s([sid]))
            row.update(self.spark([sid]))
            out.append(row)
        return out
