"""Spans, Spark event-log parsing and the arithmetic over both.

Spans are recorded by the benchmark around its own calls into the
package (name, start, end, parent, run id) and kept in memory until the
run ends.  Spark jobs are joined to spans after the run from the event
log: by job group where the benchmark set one, otherwise by the time
window of a span flagged ``windowed`` (micro-batch jobs carry the
stream's own job group).
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime


# -- statistics ----------------------------------------------------------------
def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def last_quarter(values: list) -> list:
    """The last ``ceil(n/4)`` values of a sequence, but at least two
    (or all, when there are fewer), so a median over them is not a
    single sample."""
    if not values:
        raise ValueError("last quarter of no values")
    return values[-max(2, math.ceil(len(values) / 4)) :]


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Duration of ``span`` minus the part of it its children cover
    (overlapping children are counted once, parts outside are ignored)."""
    start, end = span
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


# -- spans ---------------------------------------------------------------------
@dataclass
class Span:
    span_id: str
    name: str
    start: float
    end: float | None = None
    parent: str | None = None
    windowed: bool = False  # jobs join by time window, not by job group


class Tracer:
    """In-memory span recorder; one instance per traced run.

    ``spark`` (optional) is used to set a job group per span on the
    calling thread, so every Spark job the span causes carries the
    span's id in its properties."""

    def __init__(self, spark=None):
        self.run_id = uuid.uuid4().hex[:12]
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.span_id, span.name)

    def start(self, name: str, windowed: bool = False) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(f"{self.run_id}-{len(self.spans)}", name, time.time(), parent=parent,
                    windowed=windowed)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def stop(self, span: Span) -> Span:
        span.end = time.time()
        top = self._stack.pop()
        if top is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self._set_group(self._stack[-1] if self._stack else None)
        return span

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> Span:
        """Record a span measured elsewhere (a listener, another thread);
        its jobs are joined by time window."""
        span = Span(f"{self.run_id}-{len(self.spans)}", name, start, end, parent, windowed=True)
        self.spans.append(span)
        return span

    def to_records(self) -> list[dict]:
        return [
            {"run_id": self.run_id, "span_id": s.span_id, "name": s.name,
             "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


class span:  # noqa: N801 - used as a context manager, like a function
    """``with span(tracer, name):`` — a no-op when ``tracer`` is None."""

    def __init__(self, tracer: Tracer | None, name: str):
        self.tracer = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        if self.tracer is not None:
            self.span = self.tracer.start(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.tracer is not None:
            self.tracer.stop(self.span)


# -- streaming progress --------------------------------------------------------
@dataclass
class BatchProgress:
    run_id: str
    batch_id: int
    start: float  # trigger start, epoch seconds
    trigger_s: float
    add_batch_s: float
    planning_s: float
    wal_commit_s: float
    input_rows: int


def _iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def parse_progress(progress_json: str) -> BatchProgress | None:
    """One ``StreamingQueryProgress.json`` → BatchProgress; None for a
    progress report of a trigger that ran no batch."""
    p = json.loads(progress_json)
    d = p.get("durationMs", {})
    if "addBatch" not in d:
        return None
    return BatchProgress(
        run_id=p["runId"],
        batch_id=int(p["batchId"]),
        start=_iso_to_epoch(p["timestamp"]),
        trigger_s=d.get("triggerExecution", 0) / 1000.0,
        add_batch_s=d["addBatch"] / 1000.0,
        planning_s=d.get("queryPlanning", 0) / 1000.0,
        wal_commit_s=d.get("walCommit", 0) / 1000.0,
        input_rows=int(p.get("numInputRows", 0)),
    )


# -- event log -----------------------------------------------------------------
@dataclass
class JobStats:
    job_id: int
    group: str | None
    submit: float  # epoch seconds
    stage_ids: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0


def event_log_files(log_dir: str) -> list[str]:
    """Event files of the single application logged under ``log_dir``:
    a plain file, or the parts of a rolling ``eventlog_v2_*`` directory
    in index order."""
    entries = [e for e in glob.glob(os.path.join(log_dir, "*")) if not e.endswith(".inprogress")]
    if len(entries) != 1:
        raise ValueError(f"expected one application log in {log_dir}, found {entries}")
    entry = entries[0]
    if not os.path.isdir(entry):
        return [entry]
    parts = glob.glob(os.path.join(entry, "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def parse_event_log(lines) -> dict[int, JobStats]:
    """Per-job counters from event-log JSON lines.

    A stage counts for the first job that lists it (later jobs list it
    as skipped); tasks and their metrics count for their stage's job.
    """
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = JobStats(ev["Job ID"], props.get("spark.jobGroup.id"),
                           ev["Submission Time"] / 1000.0, stage_ids=list(ev["Stage IDs"]))
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_job:
                continue
            job = jobs[stage_job[sid]]
            job.tasks += 1
            m = ev.get("Task Metrics") or {}
            job.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return jobs


def read_event_log(log_dir: str) -> dict[int, JobStats]:
    def lines():
        for path in event_log_files(log_dir):
            with open(path) as fh:
                yield from fh
    return parse_event_log(lines())


COUNTERS = ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes", "input_bytes")


def attribute_jobs(spans: list[Span], jobs: dict[int, JobStats]) -> dict[str, list[JobStats]]:
    """Span id → the jobs it caused (its own, not its children's).

    A job whose group is a span id belongs to that span; any other job
    belongs to the innermost (latest-starting) windowed span whose
    interval holds its submission time, and to no span otherwise."""
    by_id = {s.span_id: s for s in spans}
    windowed = sorted((s for s in spans if s.windowed), key=lambda s: s.start)
    out: dict[str, list[JobStats]] = {s.span_id: [] for s in spans}
    for job in jobs.values():
        if job.group in by_id:
            out[job.group].append(job)
            continue
        hits = [s for s in windowed if s.start <= job.submit <= s.end]
        if hits:
            out[hits[-1].span_id].append(job)
    return out


def span_counters(spans: list[Span], owned: dict[str, list[JobStats]]) -> dict[str, dict]:
    """Span id → {s, self_s, counters...}; counters include the jobs of
    every descendant span, ``self_s`` excludes the children's time."""
    children: dict[str | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def descendants(s: Span) -> list[Span]:
        out = []
        for c in children.get(s.span_id, []):
            out.append(c)
            out.extend(descendants(c))
        return out

    result = {}
    for s in spans:
        family = [s, *descendants(s)]
        jobs = [j for f in family for j in owned.get(f.span_id, [])]
        row = {
            "s": s.end - s.start,
            "self_s": self_time((s.start, s.end),
                                [(c.start, c.end) for c in children.get(s.span_id, [])]),
            "jobs": len(jobs),
        }
        for c in COUNTERS[1:]:
            row[c] = sum(getattr(j, c) for j in jobs)
        result[s.span_id] = row
    return result
