"""Spans around calls into the program's layers, and the Spark event-log
aggregation that turns them into per-layer numbers.

A span is opened by the benchmark around a call into one public function of
a layer module. While a span is open on the tracing thread, every Spark job
that thread launches carries the span's id as its job group
(``SparkContext.setJobGroup``). A job without a known group (one launched
from another thread, such as the program's concurrent snapshot writes) is
attributed to the innermost span open at its submission time. Spans live in memory and
are aggregated once, after the Spark context has stopped and its event log
is complete.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records nested spans on the thread that created it.

    With ``sc=None`` spans are still recorded but no job group is set (used
    by tests). A disabled tracer records nothing and wraps nothing, so an
    untraced run pays only a no-op context manager per span. ``overhead_s``
    is the time spent opening and closing spans, job-group calls included:
    what tracing adds to the traced calls."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._thread = threading.get_ident()
        self._restore: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._thread:
            yield None
            return
        t = time.perf_counter()
        rec = {
            "id": f"pb{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group()
        self.overhead_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()
            self.overhead_s += time.perf_counter() - t

    def _set_group(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(top["id"], top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper, where callers look
        it up. ``unwrap_all`` puts every original back."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


# ------------------------------------------------------------- arithmetic

def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id → its duration minus the part its direct children cover."""
    kids: dict[str, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def innermost(spans: list[dict], t: float) -> str | None:
    """Id of the deepest span open at time ``t`` (latest start wins)."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return None if best is None else best["id"]


# -------------------------------------------------------------- event log

def parse_event_log(path: str) -> dict:
    """Jobs, stages and tasks from an uncompressed, non-rolling Spark event
    log. Times are epoch seconds; byte counts are bytes."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stage_ids": list(ev.get("Stage IDs", [])),
                    "ok": None,
                }
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["end"] = ev["Completion Time"] / 1000.0
                    j["ok"] = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = {
                    "submitted": (info.get("Submission Time") or 0) / 1000.0,
                    "tasks": info.get("Number of Tasks", 0),
                }
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                tasks.append({
                    "stage": ev["Stage ID"],
                    "attempt": ev.get("Stage Attempt ID", 0),
                    "launch": info.get("Launch Time", 0) / 1000.0,
                    "finish": info.get("Finish Time", 0) / 1000.0,
                    "failed": bool(info.get("Failed")) or reason not in (None, "Success"),
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


_ZERO = {
    "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "cpu_s": 0.0,
    "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_wait_s": 0.0,
}


def attribute(log: dict, spans: list[dict]) -> dict[str | None, dict]:
    """Aggregate Spark work per span id (None: outside every span).

    A job belongs to the span whose id is its job group, else to the
    innermost span open when it was submitted. A stage belongs to the
    latest job listing it that was submitted no later than the stage. Task
    wait is launch minus its stage's submission, summed over tasks."""
    ids = {s["id"] for s in spans}
    job_span: dict[int, str | None] = {}
    for j in log["jobs"].values():
        job_span[j["id"]] = j["group"] if j["group"] in ids else innermost(spans, j["start"])
    stage_job: dict[int, int] = {}
    for j in sorted(log["jobs"].values(), key=lambda j: j["start"]):
        for sid in j["stage_ids"]:
            stage_job[sid] = j["id"]
    out: dict[str | None, dict] = {}

    def acc(span_id):
        return out.setdefault(span_id, dict(_ZERO))

    for j in log["jobs"].values():
        acc(job_span[j["id"]])["jobs"] += 1
    for (sid, _att), st in log["stages"].items():
        if st["tasks"] and sid in stage_job:
            acc(job_span[stage_job[sid]])["stages"] += 1
    for t in log["tasks"]:
        jid = stage_job.get(t["stage"])
        a = acc(job_span[jid] if jid is not None else None)
        a["tasks"] += 1
        a["failed_tasks"] += int(t["failed"])
        a["cpu_s"] += t["cpu_s"]
        a["gc_s"] += t["gc_s"]
        a["shuffle_write_mb"] += t["shuffle_write"] / 1e6
        a["spill_mb"] += t["spill"] / 1e6
        st = log["stages"].get((t["stage"], t["attempt"]))
        if st is not None and st["submitted"]:
            a["task_wait_s"] += max(0.0, t["launch"] - st["submitted"])
    return out


def job_intervals(log: dict) -> list[tuple[float, float]]:
    return [(j["start"], j["end"]) for j in log["jobs"].values() if j["end"] is not None]


def subtree(spans: list[dict], root_id: str) -> set[str]:
    """Ids of ``root_id`` and every span nested under it."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, []))
    return out


def rollup(per_span: dict, ids) -> dict:
    """Sum the per-span aggregates of ``ids``."""
    tot = dict(_ZERO)
    for sid in ids:
        for k, v in per_span.get(sid, {}).items():
            tot[k] += v
    return tot
