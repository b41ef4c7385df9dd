"""Spans recorded around the benchmark's calls into the program, and the
Spark event-log reader that hangs the engine's jobs under them.

Spans are cheap (two clock reads) and are kept in both modes; the event
log is written and parsed only in a traced run. A job belongs to the
innermost span whose interval holds it. Inside a span, a job is further
named by its call site: PySpark records ``collect at <file>.py:<line>``
for driver actions, and :func:`site_function` resolves that line to the
enclosing function of the program's source, so the mapping survives edits
that move lines. Actions without a Python call site (writes, counts,
checkpoints) are named by the caller from the span they fall in.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import glob
import json
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def within(self, t0: float, t1: float) -> bool:
        return self.start <= t0 and t1 <= self.end


class Tracer:
    """Spans nest per thread: a span's parent is the innermost span open
    in the same thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("open", [])
        sp = Span(name, time.time(), parent=stack[-1] if stack else None)
        self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def median(self, name: str) -> float:
        return statistics.median(s.dur for s in self.named(name))

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def attach(self, jobs: list["Job"]) -> None:
        """Give each job to the innermost span that holds it. Event-log
        times are truncated to whole milliseconds, so a job's true start
        may lie up to 1 ms after its logged one."""
        for job in jobs:
            best = None
            for sp in self.spans:
                if sp.within(job.start + 1e-3, job.end) and (
                    best is None or sp.dur <= best.dur
                ):
                    best = sp
            if best is not None:
                best.jobs.append(job)

    def jobs_under(self, sp: Span) -> list["Job"]:
        out = list(sp.jobs)
        for s in self.spans:
            p = s.parent
            while p is not None and p is not sp:
                p = p.parent
            if p is sp:
                out += s.jobs
        return sorted(out, key=lambda j: j.start)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


@dataclass
class Task:
    run_s: float
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Job:
    id: int
    start: float
    end: float
    site: str | None          # "<module>:<function>" of the Python call site
    sql_id: int | None
    stages: list[int]

    @property
    def dur(self) -> float:
        return self.end - self.start


@functools.lru_cache(maxsize=None)
def _functions_by_line(path: str) -> tuple:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    return tuple(
        (n.lineno, n.end_lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    )


def site_function(call_site: str | None) -> str | None:
    """``"collect at /x/plans/pipeline.py:96"`` -> ``"pipeline:aggregate_weights"``
    (the innermost function whose body holds that line)."""
    m = re.search(r" at (.+\.py):(\d+)$", call_site or "")
    if not m or not os.path.exists(m.group(1)):
        return None
    path, line = m.group(1), int(m.group(2))
    inner = [f for f in _functions_by_line(path) if f[0] <= line <= f[1]]
    if not inner:
        return None
    name = max(inner, key=lambda f: f[0])[2]
    return f"{os.path.splitext(os.path.basename(path))[0]}:{name}"


class EventLog:
    """The parts of one application's uncompressed event log the benchmark
    reads: jobs, their tasks' metrics, and SQL node row counts."""

    def __init__(self, log_dir: str):
        files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
        if not files:
            raise FileNotFoundError(f"no eventlog_v2_* directory under {log_dir}")
        files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        self.jobs: dict[int, Job] = {}
        self.tasks: dict[int, list[Task]] = {}
        self._plans: dict[int, dict] = {}
        self._acc: dict[int, int] = {}
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    self._read(json.loads(line))

    def _read(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], e["Submission Time"] / 1e3, 0.0,
                site_function(props.get("callSite.short")),
                int(sql) if sql else None, list(e["Stage IDs"]),
            )
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            self.tasks.setdefault(e["Stage ID"], []).append(Task(
                m.get("Executor Run Time", 0) / 1e3,
                m.get("JVM GC Time", 0) / 1e3,
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            ))
            # SQL metrics arrive as strings, internal ones as numbers
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                update = str(acc.get("Update", ""))
                if update.isdigit():
                    self._acc[acc["ID"]] = self._acc.get(acc["ID"], 0) + int(update)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            # the last plan seen is the one AQE finally ran
            self._plans[e["executionId"]] = e["sparkPlanInfo"]

    def node_rows(self, sql_id: int | None, node_name: str) -> int:
        """Output rows of every plan node called ``node_name`` in one SQL
        execution's final plan."""
        plan = self._plans.get(sql_id)
        total, todo = 0, [plan] if plan else []
        while todo:
            node = todo.pop()
            todo += node.get("children", [])
            if node.get("nodeName") == node_name:
                for metric in node.get("metrics", []):
                    if metric["name"] == "number of output rows":
                        total += self._acc.get(metric["accumulatorId"], 0)
        return total

    def job_tasks(self, jobs: list[Job]) -> list[list[Task]]:
        return [self.tasks.get(s, []) for j in jobs for s in j.stages]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def engine_metrics(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Engine counters over ``jobs``: task time, GC, shuffle, spill and the
    worst straggler ratio (max over stages of max / median task time)."""
    stages = log.job_tasks(jobs)
    tasks = [t for st in stages for t in st]
    skew = 1.0
    for st in stages:
        med = statistics.median(t.run_s for t in st) if len(st) > 1 else 0.0
        if med > 0:
            skew = max(skew, max(t.run_s for t in st) / med)
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t.run_s for t in tasks),
        "spark.gc_s": sum(t.gc_s for t in tasks),
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spark.spill_bytes": sum(t.spill_bytes for t in tasks),
        "spark.task_skew": skew,
    }
