"""In-memory spans around each layer call, and the fold of Spark's
event log into per-span task metrics.

A span records its name, parent, wall-clock interval and duration,
and ``trace_s``, the time spent on the span's own tracing calls.
With job tagging on, each span also sets ``sparkContext.setJobGroup``
so the jobs it submits carry its group id in the event log; jobs that
carry another group (structured streaming sets its own) are assigned
to the innermost span open at their submission time. The benchmark is
one closed-loop client, so that interval attribution is exact.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark_context=None):
        """``spark_context`` turns on job-group tagging; without it
        spans are timers only (the untraced run)."""
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark_context

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "group": None, "trace_s": 0.0}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        t0 = time.perf_counter()
        if self._sc is not None:
            rec["group"] = f"{name}#{sid}"
            self._sc.setJobGroup(rec["group"], name)
        rec["wall_start"] = time.time()
        t1 = time.perf_counter()
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if parent is None:
                    self._sc._jsc.clearJobGroup()
                else:
                    up = self.spans[parent]
                    self._sc.setJobGroup(up["group"], up["name"])
            t3 = time.perf_counter()
            # the span covers its own tagging calls; trace_s is their cost
            rec["s"] = t3 - t0
            rec["wall_end"] = rec["wall_start"] + (t2 - t1)
            rec["trace_s"] += (t1 - t0) + (t3 - t2)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["s"] for s in self.named(name)]

    def subtree(self, sid: int) -> list[int]:
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s["id"])
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children[cur])
        return out


# --- event-log fold --------------------------------------------------------

METRIC_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def _empty() -> dict:
    return {k: 0 for k in METRIC_KEYS} | {"stage_tasks": {}}


def fold_event_log(path: str, tracer: Tracer) -> dict[int, dict]:
    """Per-span task metrics (innermost span owns each job)."""
    by_group = {s["group"]: s["id"] for s in tracer.spans if s["group"]}
    depth = {}
    for s in tracer.spans:
        depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1

    def owner_at(t_ms: float) -> int | None:
        t = t_ms / 1000.0
        best = None
        for s in tracer.spans:
            if s["wall_start"] <= t <= s.get("wall_end", float("inf")):
                if best is None or depth[s["id"]] > depth[best]:
                    best = s["id"]
        return best

    stage_owner: dict[int, int | None] = {}
    out: dict[int, dict] = defaultdict(_empty)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                sid = by_group.get(group)
                if sid is None:
                    sid = owner_at(ev["Submission Time"])
                if sid is None:
                    continue
                out[sid]["jobs"] += 1
                for st in ev["Stage IDs"]:
                    stage_owner[st] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_owner.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if sid is None or not tm:
                    continue
                rec = out[sid]
                info = ev["Task Info"]
                rec["tasks"] += 1
                rec["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                rec["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                rec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                sr = tm.get("Shuffle Read Metrics", {})
                rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                rec["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                rec["stage_tasks"].setdefault(ev["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0
                )
    for rec in out.values():
        rec["stages"] = len(rec["stage_tasks"])
    return dict(out)


def rollup(folded: dict[int, dict], span_ids) -> dict:
    """Sum span metrics over ``span_ids``; ``task_skew`` is max/median
    task time of the stage with the longest task."""
    total = _empty()
    for sid in span_ids:
        rec = folded.get(sid)
        if rec is None:
            continue
        for k in METRIC_KEYS:
            if k != "stages":
                total[k] += rec[k]
        total["stage_tasks"].update(rec["stage_tasks"])
    total["stages"] = len(total["stage_tasks"])
    worst = max(total["stage_tasks"].values(), key=max, default=None)
    med = statistics.median(worst) if worst else 0.0
    total["task_skew"] = max(worst) / med if worst and med > 0 else 1.0 if worst else 0.0
    del total["stage_tasks"]
    return total
