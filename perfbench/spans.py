"""Spans around the benchmark's calls into the engine, and the fold of
Spark's event log onto them.

A span records name, start, end, parent and op id.  Entering a span sets
the Spark job group to the span id, so every job Spark runs inside it is
tagged in the event log (``SparkListenerJobStart`` carries
``spark.jobGroup.id``).  After the session stops, :func:`fold_event_log`
reads the log and :func:`attribute` hangs job and task metrics on spans.

Only the traced run creates a :class:`Tracer`; the untraced run pays
no tracing cost.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """Time one call.  ``op`` defaults to the enclosing span's op.
        Yields the span record, to which the caller may add counts."""
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent["op"]
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(_GROUP, rec["id"])
        self.sc.setLocalProperty(_DESC, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, parent["id"] if parent else None)
            self.sc.setLocalProperty(_DESC, parent["name"] if parent else None)

    def write(self, path: str) -> None:
        """One JSON span per line, with its self time (``self_s``)."""
        own = self_time(self.spans)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps({**rec, "self_s": own[rec["id"]]}, sort_keys=True) + "\n")


def self_time(spans: list[dict]) -> dict[str, float]:
    """Span id -> self seconds: its duration minus the part of that
    interval its direct children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []))
        for s in spans
    }


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
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


def fold_event_log(log_dir: str) -> dict:
    """Jobs (with their group, wall interval and summed task metrics)
    and streaming progress events from every event-log file in
    ``log_dir`` (written with compression and rolling off)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    progress: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": (ev.get("Properties") or {}).get(_GROUP),
                        "submit_ms": ev.get("Submission Time"),
                        "end_ms": None,
                        "tasks": 0,
                        "task_ms": 0,
                        "gc_ms": 0,
                        "shuffle_bytes": 0,
                        "input_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["task_ms"] += m.get("Executor Run Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    job["input_bytes"] += inp.get("Bytes Read", 0)
                elif kind == _PROGRESS:
                    progress.append(ev.get("progress") or {})
    return {"jobs": jobs, "progress": progress}


def attribute(spans: list[dict], folded: dict) -> None:
    """Add to each span the jobs tagged with its id (its own jobs, not
    its children's): ``jobs``, ``tasks``, ``task_ms``, ``gc_ms``,
    ``shuffle_bytes``, ``input_bytes`` and ``job_intervals``."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s.update(jobs=0, tasks=0, task_ms=0, gc_ms=0, shuffle_bytes=0,
                 input_bytes=0, job_intervals=[])
    for job in folded["jobs"].values():
        s = by_id.get(job["group"])
        if s is None:
            continue
        s["jobs"] += 1
        for k in ("tasks", "task_ms", "gc_ms", "shuffle_bytes", "input_bytes"):
            s[k] += job[k]
        if job["submit_ms"] is not None and job["end_ms"] is not None:
            s["job_intervals"].append((job["submit_ms"], job["end_ms"]))


def subtree(spans: list[dict], root_id: str) -> list[dict]:
    """``root_id``'s span and every span below it."""
    kids: dict[str, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    by_id = {s["id"]: s for s in spans}
    while todo:
        sid = todo.pop()
        out.append(by_id[sid])
        todo.extend(k["id"] for k in kids.get(sid, []))
    return out
