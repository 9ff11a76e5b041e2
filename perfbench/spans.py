"""Spans recorded around calls into the engine, and the fold of Spark's
event log into per-span counters.

A span is opened by the benchmark around one call into a layer. Spans
live in memory and are written out with the run's result. While a
span is open on a thread, the thread's Spark jobs carry its id in the
``perfbench.span`` local property; jobs started from threads the
benchmark does not own (orchestrator workers, the streaming thread)
are attributed to the innermost span whose interval holds the job's
submission time.

Counters come from the event log of the traced session only
(``spark.eventLog.enabled``); :func:`fold` reduces it to per-job
records and the log is deleted afterwards.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPAN_PROPERTY = "perfbench.span"

# Stage accumulables summed into each job (and then span) record.
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
}
COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "task_wait_s",
)


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    run_id: str
    start: float  # epoch seconds, the event log's clock
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder for one traced run. ``sc`` is the SparkContext
    whose jobs are tagged; pass ``None`` to record spans only."""

    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, layer: str, **attrs) -> Iterator[Span]:
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = f"{self.run_id}:{next(self._ids)}"
        s = Span(sid, name, layer, stack[-1].id if stack else None,
                 self.run_id, time.time(), attrs=dict(attrs))
        stack.append(s)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, sid)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, stack[-1].id if stack else None)
            with self._lock:
                self.spans.append(s)

    def records(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


# --- event-log fold -----------------------------------------------------------


def read_event_log(path: str) -> Iterator[dict]:
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def fold(events: Iterable[dict]) -> tuple[list[dict], list[dict]]:
    """Event-log records → (jobs, sql executions).

    A job record holds its id, submit/end time (epoch s), the span
    property it carried, its SQL execution id and the COUNTERS summed
    over its completed stages; ``task_wait_s`` sums each task's launch
    delay after its stage was submitted (scheduler queueing for a free
    core). A SQL execution record holds its id, start time and the
    file locations of its parquet scan nodes."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    sqls: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            sql_id = props.get("spark.sql.execution.id")
            jobs[jid] = {
                "id": jid,
                "submit": ev["Submission Time"] / 1e3,
                "end": ev["Submission Time"] / 1e3,
                "span": props.get(SPAN_PROPERTY),
                "sql": int(sql_id) if sql_id not in (None, "") else None,
                **{c: 0 for c in COUNTERS},
            }
            jobs[jid]["jobs"] = 1
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if "Submission Time" in info:
                stage_submit[info["Stage ID"]] = info["Submission Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            if job is None:
                continue
            job["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                target = _STAGE_METRICS.get(acc.get("Name"))
                if target is not None:
                    job[target[0]] += float(acc.get("Value", 0)) * target[1]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            submitted = stage_submit.get(ev["Stage ID"])
            if job is not None and submitted is not None:
                launch = ev["Task Info"]["Launch Time"] / 1e3
                job["task_wait_s"] += max(0.0, launch - submitted)
        elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
            sqls[ev["executionId"]] = {
                "id": ev["executionId"],
                "time": ev["time"] / 1e3,
                "scans": _scan_locations(ev.get("sparkPlanInfo") or {}),
            }
    return sorted(jobs.values(), key=lambda j: j["id"]), list(sqls.values())


def _scan_locations(node: dict) -> list[str]:
    out = []
    if str(node.get("nodeName", "")).startswith("Scan parquet"):
        out.append(str((node.get("metadata") or {}).get("Location", "")))
    for child in node.get("children", []):
        out.extend(_scan_locations(child))
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
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


def attribute(spans: list[dict], jobs: list[dict], sqls: list[dict] = ()) -> dict[str, dict]:
    """Per-span totals: COUNTERS of the jobs attributed to the span,
    ``job_cover_s`` (wall covered by at least one of its jobs),
    ``self_s`` (wall not covered by child spans) and ``scans`` (parquet
    scan locations of its SQL executions).

    A job goes to the span named by its property; an untagged job to
    the innermost span holding its submission time."""
    by_id = {s["id"]: s for s in spans}
    out = {
        s["id"]: {c: 0 for c in COUNTERS} | {"job_intervals": [], "scans": []}
        for s in spans
    }

    def innermost(t: float) -> str | None:
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (
                best is None or s["end"] - s["start"] < best["end"] - best["start"]
            ):
                best = s
        return best["id"] if best else None

    sql_span: dict[int, str] = {}
    for job in jobs:
        sid = job["span"] if job["span"] in by_id else innermost(job["submit"])
        if sid is None:
            continue
        rec = out[sid]
        for c in COUNTERS:
            rec[c] += job[c]
        rec["job_intervals"].append((job["submit"], job["end"]))
        if job["sql"] is not None:
            sql_span.setdefault(job["sql"], sid)
    for sql in sqls:
        sid = sql_span.get(sql["id"]) or innermost(sql["time"])
        if sid is not None:
            out[sid]["scans"].extend(sql["scans"])
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        rec = out[s["id"]]
        wall = s["end"] - s["start"]
        rec["wall_s"] = wall
        rec["job_cover_s"] = _union_length(rec.pop("job_intervals"))
        rec["self_s"] = wall - _union_length(children.get(s["id"], []))
    return out
