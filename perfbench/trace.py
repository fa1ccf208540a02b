"""Spans around calls into the engine, and Spark's event log under them.

A span has a name, a start, an end and the id of the span that caused it.
While a span is open, every Spark job the driver thread submits carries the
span id in the ``perfbench.span`` local property (and the span name as its
job description), so the event log attributes each job, and through it each
stage and task, to the innermost span open at the time. Spans are kept in
memory and written out once, when the run ends.

The event-log reader is stdlib only: Spark writes one JSON object per line
when ``spark.eventLog.compress`` and ``spark.eventLog.rolling.enabled`` are
off (see ``event_log_conf``).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterable, Iterator, List, Optional

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    parent: Optional[int]
    name: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; tags Spark jobs with the innermost open span."""

    def __init__(self, spark=None) -> None:
        self._sc = spark.sparkContext if spark is not None else None
        self.spans: List[Span] = []
        self._stack: List[Span] = []

    def _tag(self, span: Optional[Span]) -> None:
        if self._sc is None:
            return
        self._sc.setLocalProperty(SPAN_PROPERTY, str(span.id) if span else None)
        self._sc.setJobDescription(span.name if span else None)

    def detach(self) -> None:
        """Stop tagging jobs (the session is gone); spans still record."""
        self._sc = None

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1].id if self._stack else None
        s = Span(id=len(self.spans) + 1, parent=parent, name=name, start=time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def descendants(self, span_id: int) -> set:
        """``span_id`` and every span it caused, transitively."""
        out = {span_id}
        for s in self.spans:  # parents are always recorded before children
            if s.parent in out:
                out.add(s.id)
        return out

    def self_seconds(self, span: Span) -> float:
        """The span's duration minus the part its direct children cover."""
        children = sorted(
            (c.start, c.end) for c in self.spans if c.parent == span.id
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in children:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return span.seconds - covered

    def dump(self, path: str) -> None:
        rows = [dict(asdict(s), self_s=self.self_seconds(s)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)


class NullTracer(Tracer):
    """Tracing off: spans cost one context manager and tag nothing."""

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield None


def event_log_conf(log_dir: str) -> Dict[str, str]:
    """``build_session(extra_conf=...)`` entries for a plain-JSON event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill_disk: int
    input_bytes: int
    output_bytes: int


@dataclass
class Stage:
    id: int
    python: bool  # runs a Python map (mapInArrow / mapInPandas / Python UDF)
    tasks: List[Task] = field(default_factory=list)


@dataclass
class Job:
    id: int
    span: Optional[int]
    stages: List[int]


@dataclass
class EventLog:
    jobs: Dict[int, Job] = field(default_factory=dict)
    stages: Dict[int, Stage] = field(default_factory=dict)


_PYTHON_SCOPES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython", "Python")


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope") or ""
        if any(tag in scope for tag in _PYTHON_SCOPES):
            return True
    return False


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Jobs (with their span), stages and per-task metrics from event-log
    JSON lines. Jobs without a span tag get ``span=None``; skipped stages
    (reused shuffle output) appear in a job's stage list with no tasks."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            log.jobs[ev["Job ID"]] = Job(
                id=ev["Job ID"],
                span=int(tag) if tag else None,
                stages=list(ev.get("Stage IDs", [])),
            )
            for info in ev.get("Stage Infos", []):
                log.stages.setdefault(
                    info["Stage ID"],
                    Stage(id=info["Stage ID"], python=_is_python_stage(info)),
                )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage = log.stages.setdefault(
                info["Stage ID"], Stage(id=info["Stage ID"], python=False)
            )
            stage.python = stage.python or _is_python_stage(info)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            task = Task(
                stage=ev["Stage ID"],
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                spill_disk=m.get("Disk Bytes Spilled", 0),
                input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
            )
            log.stages.setdefault(task.stage, Stage(id=task.stage, python=False)).tasks.append(task)
    return log


def read_event_log(log_dir: str) -> EventLog:
    """The single application log Spark wrote under ``log_dir``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as fh:
        return parse_event_log(fh)


def spark_metrics(log: EventLog, span_ids: set) -> Dict[str, float]:
    """``spark.*`` metrics over the jobs tagged with any of ``span_ids``."""
    jobs = [j for j in log.jobs.values() if j.span in span_ids]
    stage_ids = sorted({s for j in jobs for s in j.stages})
    stages = [log.stages[s] for s in stage_ids if s in log.stages and log.stages[s].tasks]
    tasks = [t for s in stages for t in s.tasks]
    python = [s for s in stages if s.python]
    skew = 1.0
    if python:
        # the Python stage that ran longest in total decides the figure
        biggest = max(python, key=lambda s: sum(t.run_ms for t in s.tasks))
        times = [t.run_ms for t in biggest.tasks]
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 1.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.jvm_gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "spark.shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spark.spill_disk_bytes": sum(t.spill_disk for t in tasks),
        "spark.input_bytes": sum(t.input_bytes for t in tasks),
        "spark.output_bytes": sum(t.output_bytes for t in tasks),
        "spark.python_task_skew": skew,
    }


def job_count(log: EventLog, span_ids: set) -> int:
    return sum(1 for j in log.jobs.values() if j.span in span_ids)


def shuffle_stage_count(log: EventLog, span_ids: set) -> int:
    """Stages that ran and wrote shuffle output, under ``span_ids``."""
    stage_ids = {s for j in log.jobs.values() if j.span in span_ids for s in j.stages}
    return sum(
        1
        for s in stage_ids
        if s in log.stages and any(t.shuffle_write > 0 for t in log.stages[s].tasks)
    )
