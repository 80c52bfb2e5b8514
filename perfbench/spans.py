"""Spans, event-log parsing and the writers directory walk of the traced
run. Nothing here imports Spark: the spans are plain records, the event
log is read as JSON lines, and the walk is ``os.walk``."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent span id and op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": op}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, name: str, fn, op: str):
        def traced(*args, **kwargs):
            with self.span(name, op):
                return fn(*args, **kwargs)
        return traced

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


EXECUTOR_KEYS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "peak_mem_bytes",
                  "failed_tasks")


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: executor task metrics summed over its tasks, and
    the (submit, end) wall interval of each of its jobs in seconds.

    Stages map to a group through the properties of their
    StageSubmitted event, jobs through those of their JobStart."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, dict] = {}

    def entry(group: str) -> dict:
        if group not in out:
            out[group] = {k: 0 for k in EXECUTOR_KEYS}
            out[group]["jobs"] = []
        return out[group]

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    job_group[ev["Job ID"]] = group
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
            elif kind == "SparkListenerJobEnd":
                group = job_group.get(ev["Job ID"])
                if group is not None:
                    entry(group)["jobs"].append(
                        (job_start[ev["Job ID"]], ev["Completion Time"] / 1000))
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                e = entry(group)
                e["tasks"] += 1
                if ev["Task Info"].get("Failed"):
                    e["failed_tasks"] += 1
                m = ev.get("Task Metrics")
                if not m:
                    continue
                e["run_s"] += m["Executor Run Time"] / 1e3
                e["cpu_s"] += m["Executor CPU Time"] / 1e9
                e["gc_s"] += m["JVM GC Time"] / 1e3
                sr = m["Shuffle Read Metrics"]
                e["shuffle_read_bytes"] += (
                    sr["Remote Bytes Read"] + sr["Local Bytes Read"])
                e["shuffle_write_bytes"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                e["spill_bytes"] += (
                    m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"])
                e["peak_mem_bytes"] += m["Peak Execution Memory"]
    return out


def walk_target(target: str, since: float) -> dict[str, int]:
    """Data files under ``target`` modified at or after ``since``, the
    partition directories holding them, and temp/backup paths the atomic
    write protocol left behind (siblings named ``<target>__tmp_*`` /
    ``__bak_*``, or ``_temporary`` dirs inside)."""
    files = nbytes = 0
    parts: set[str] = set()
    leftovers = 0
    for d, dirs, names in os.walk(target):
        leftovers += sum(1 for x in dirs if x == "_temporary")
        for n in names:
            if n.startswith((".", "_")):
                continue
            p = os.path.join(d, n)
            st = os.stat(p)
            if st.st_mtime >= since:
                files += 1
                nbytes += st.st_size
                parts.add(os.path.relpath(d, target))
    parent, base = os.path.split(target.rstrip("/"))
    if os.path.isdir(parent):
        leftovers += sum(
            1 for x in os.listdir(parent)
            if x.startswith((base + "__tmp_", base + "__bak_"))
        )
    return {"files_written": files, "bytes_written": nbytes,
            "partitions_written": len(parts), "leftover_paths": leftovers}
