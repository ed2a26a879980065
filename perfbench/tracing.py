"""Spans, Spark event-log reduction and /proc CPU accounting.

A :class:`Tracer` times every call the benchmark makes into a layer of
the engine. Untraced, a span is two clock reads. Traced, each span also
sets the Spark job group (``spark.jobGroup.id``) to its own id, so every
job Spark runs inside it can be attributed from the event log, and the
span is kept in memory and written out when the run ends.

:func:`reduce_event_log` folds Spark's own JSON event log into per-span
job/stage/task counts, executor run vs CPU time, GC, shuffle and I/O
bytes, and the driver gap (span wall time not covered by any of its jobs
or child spans).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Span:
    __slots__ = ("id", "name", "parent", "request", "start", "end")

    def __init__(self, sid, name, parent, request, start):
        self.id, self.name, self.parent = sid, name, parent
        self.request, self.start, self.end = request, start, None

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "request": self.request, "start": self.start, "end": self.end,
        }


class Tracer:
    """Span recorder. ``sc`` is the SparkContext whose job group follows
    the innermost open span; pass ``traced=False`` for timing only."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None

    def _set_group(self, span: Span | None) -> None:
        if self.traced and self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if span is None else f"pb{span.id}"
            )

    @contextmanager
    def span(self, name: str, request=None):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(len(self.spans), name, parent and parent.id, request, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name and s.end is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its child spans."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: max(0.0, s.dur - _union([(c.start, c.end) for c in kids.get(s.id, [])]))
        for s in spans
    }


def by_name(spans: list[Span], per_span: dict[int, dict]) -> dict[str, dict]:
    """Per span name: count, total and self time, and the summed
    event-log metrics of its spans."""
    selft = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        if s.end is None:
            continue
        rec = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        rec["count"] += 1
        rec["total_s"] += s.dur
        rec["self_s"] += selft[s.id]
        for k, v in per_span.get(s.id, {}).items():
            rec[k] = rec.get(k, 0) + v
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

TASK_FIELDS = (
    "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes", "output_bytes",
)


def _task_values(m: dict) -> dict[str, float]:
    sr = m.get("Shuffle Read Metrics", {})
    return {
        "tasks": 1,
        "executor_run_ms": m.get("Executor Run Time", 0),
        "executor_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def read_jobs(log_dir: str) -> list[dict]:
    """Every job in every event log under ``log_dir``: group, streaming
    batch, start/end (epoch seconds), stage count and summed task
    metrics."""
    jobs: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        by_id: dict[int, dict] = {}
        stage_job: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "group": props.get("spark.jobGroup.id"),
                        "stream_batch": props.get("streaming.sql.batchId"),
                        "start": ev["Submission Time"] / 1e3,
                        "end": None,
                        "stages": 0,
                        **{k: 0 for k in TASK_FIELDS},
                    }
                    by_id[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerJobEnd":
                    job = by_id.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None and "Submission Time" in ev["Stage Info"]:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is not None and ev.get("Task Metrics"):
                        for k, v in _task_values(ev["Task Metrics"]).items():
                            job[k] += v
        jobs.extend(j for j in by_id.values() if j["end"] is not None)
    return jobs


def reduce_event_log(log_dir: str, spans: list[Span], stream_span: Span | None = None):
    """Attribute jobs to spans by job group (jobs of a streaming query,
    which run on the stream's own thread, go to ``stream_span`` when they
    start inside it) and sum
    per span: jobs, stages, task metrics, and the driver gap — span time
    covered neither by its own jobs nor by its child spans."""
    jobs = read_jobs(log_dir)
    by_span: dict[int, list[dict]] = {}
    for j in jobs:
        sid = None
        if j["group"] and j["group"].startswith("pb"):
            sid = int(j["group"][2:])
        elif (
            j["stream_batch"] is not None
            and stream_span is not None
            and stream_span.start <= j["start"] <= stream_span.end
        ):
            sid = stream_span.id
        if sid is not None:
            by_span.setdefault(sid, []).append(j)
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[int, dict] = {}
    for s in spans:
        own = by_span.get(s.id, [])
        covered = [(max(j["start"], s.start), min(j["end"], s.end)) for j in own]
        covered = [(a, b) for a, b in covered if b > a]
        covered += [(c.start, c.end) for c in kids.get(s.id, [])]
        rec = {"jobs": len(own), "stages": sum(j["stages"] for j in own)}
        for k in TASK_FIELDS:
            rec[k] = sum(j[k] for j in own)
        rec["driver_gap_ms"] = max(0.0, s.dur - _union(covered)) * 1e3
        out[s.id] = rec
    return out


# ---------------------------------------------------------------------------
# /proc CPU accounting
# ---------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped-children cpu s) from /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, comm, (utime + stime) / _CLK_TCK, (cutime + cstime) / _CLK_TCK


def _process_table() -> dict[int, tuple[int, str, float, float]]:
    table = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                table[int(d)] = st
    return table


def descendants(pid: int, table: dict | None = None) -> list[int]:
    """Every live process below ``pid``."""
    table = _process_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for child, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(child)
    out, frontier = [], [pid]
    while frontier:
        for c in kids.get(frontier.pop(), []):
            out.append(c)
            frontier.append(c)
    return out


def cpu_snapshot(jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds so far: this driver process, the JVM, and every Python
    worker under the JVM (including workers that already exited and were
    reaped by the worker daemon)."""
    me = _stat(os.getpid())
    snap = {"driver": me[2] if me else 0.0, "jvm": 0.0, "python_worker": 0.0}
    if jvm_pid is None:
        return snap
    table = _process_table()
    if jvm_pid in table:
        snap["jvm"] = table[jvm_pid][2]
    for pid in descendants(jvm_pid, table):
        _, comm, own, reaped = table[pid]
        if comm.startswith("python"):
            snap["python_worker"] += own + reaped
    return snap


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: max(0.0, b[k] - a[k]) for k in a}
